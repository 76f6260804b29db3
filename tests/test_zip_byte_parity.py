"""Zip-member byte parity for gh_accra / ni_esteli / cr_gam.

Same statement as the Florianópolis test: every golden-zip member the
production writer (``feed_members.members``) gives for the city's config
is byte-size- and line-multiset-equal to the golden, in the exact
transitfeed CSV dialect. Row order within a file is py2 dict-iteration
order (GTFS-semantically irrelevant) and is the only thing not
reproduced.
"""

from __future__ import annotations

import collections
import os
import zipfile

import pytest

from osm2gtfs_spark.sources import feed_members as FM
from osm2gtfs_spark.sources.osm_xml import timetable_docs_df, xml_docs_df

FIX = "/root/reference/osm2gtfs/tests/creators/fixtures"

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{FIX}/gh_accra/gh_accra_gtfs.zip.ref"),
    reason="reference fixtures not available",
)


def _check_members(city: str, members: dict[str, bytes]) -> None:
    with zipfile.ZipFile(f"{FIX}/{city}/{city}_gtfs.zip.ref") as z:
        for name, ours in members.items():
            golden = z.read(name)
            assert len(ours) == len(golden), (
                f"{city}/{name}: size {len(ours)} != golden {len(golden)}"
            )
            diff_ab = collections.Counter(ours.split(b"\r\n")) - collections.Counter(
                golden.split(b"\r\n")
            )
            assert not diff_ab, (
                f"{city}/{name}: {sum(diff_ab.values())} extra lines, e.g. "
                f"{list(diff_ab)[:2]}"
            )


def test_accra_zip_byte_parity(spark):
    from osm2gtfs_spark.plans.accra import build_accra_tables

    fx = f"{FIX}/gh_accra"
    t = build_accra_tables(
        xml_docs_df(spark, [f"{fx}/overpass-stops.xml"]),
        xml_docs_df(spark, [f"{fx}/overpass-routes.xml"]),
    )
    config = {
        "agency": {
            "agency_url": "https://ama.gov.gh/welcome/transport/",
            "agency_name": "Accra Tro tro",
            "agency_id": "AM3",
            "agency_timezone": "Africa/Accra",
            "agency_lang": "en",
        },
        "feed_info": {"start_date": "20170901", "end_date": "20180730"},
    }
    _check_members("gh_accra", FM.members("gh_accra", t, config))


CITY_CONFIGS = {
    "ni_esteli": {
        "agency": {
            "agency_url": "https://wiki.openstreetmap.org/wiki/ES:Wikiproyecto_Nicaragua/Transporte_p%C3%BAblico/Estel%C3%AD",
            "agency_name": "Estelí",
            "agency_id": "NI-Estelí",
            "agency_timezone": "America/Managua",
            "agency_lang": "es",
        },
        "feed_info": {
            "publisher_name": "MapaNica.net",
            "publisher_url": "https://mapanica.net",
            "version": "0.1",
            "start_date": "20191201",
            "end_date": "20201130",
        },
    },
    "cr_gam": {
        "agency": {
            "agency_phone": "506 25425800",
            "agency_url": "http://www.incofer.go.cr",
            "agency_id": "CR-Incofer",
            "agency_name": "Incofer",
            "agency_timezone": "America/Costa_Rica",
            "agency_lang": "ES",
        },
        "member_headers": {
            "agency.txt": ["agency_phone", "agency_url", "agency_id", "agency_name", "agency_timezone", "agency_lang"],
        },
        "feed_info": {
            "publisher_name": "Laboratorio Experimental",
            "publisher_url": "http://www.labexp.org",
            "version": "0.1",
            "start_date": "20200101",
            "end_date": "20201231",
        },
    },
}


@pytest.mark.parametrize("city", list(CITY_CONFIGS))
def test_default_city_zip_byte_parity(spark, city):
    from osm2gtfs_spark.plans.default_city import build_city_tables

    cfg = CITY_CONFIGS[city]
    fx = f"{FIX}/{city}"
    t = build_city_tables(
        xml_docs_df(spark, [f"{fx}/overpass-stops.xml"]),
        xml_docs_df(spark, [f"{fx}/overpass-routes.xml"]),
        timetable_docs_df(spark, f"{fx}/timetable.json"),
        name_without="Parada sin nombre",
        feed_start=cfg["feed_info"]["start_date"],
        feed_end=cfg["feed_info"]["end_date"],
    )
    _check_members(city, FM.members("default", t, cfg))
