"""The four XML city selectors on one synthetic corpus: pinned outputs,
no cache left behind, and stage resume from a catalog.

The corpus is ``CitySpec(n_lines=6, with_stop_areas=True,
with_schedule=True)`` docs, passed as the stops, routes and timetable
docs, plus a Fenix payload for Florianópolis built here: a weekday
departure from each line's ``Terminal {i}A``, a Saturday one from
``Terminal {i}B``, and one Saturday ``operacoes`` date after the feed
start, so the exception-service path runs. Each table's columns, row
count and sorted-row sha256 are pinned inline, like
``test_managua_parity.py::test_managua_pinned_regression``, and so is
each selector's members zip under ``CONFIG``.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import logging

import pytest

from osm2gtfs_spark.plans.abidjan import build_abidjan_tables
from osm2gtfs_spark.plans.accra import build_accra_tables
from osm2gtfs_spark.plans.default_city import build_city_tables
from osm2gtfs_spark.plans.florianopolis import build_florianopolis_tables
from osm2gtfs_spark.sources import docs as D
from osm2gtfs_spark.sources import feed_members as FM
from osm2gtfs_spark.sources.checkpoint import CheckpointCatalog
from osm2gtfs_spark.sources.fenix import fenix_docs_df
from osm2gtfs_spark.sources.gtfs_sink import write_members_zip

SPEC = D.CitySpec(n_lines=6, with_stop_areas=True, with_schedule=True)

BUILDERS = {
    "gh_accra": lambda c, **kw: build_accra_tables(c["docs"], c["docs"], **kw),
    "ci_abidjan": lambda c, **kw: build_abidjan_tables(c["docs"], c["docs"], **kw),
    "br_florianopolis": lambda c, **kw: build_florianopolis_tables(
        c["docs"], c["docs"], c["fenix"], **kw
    ),
    "default": lambda c, **kw: build_city_tables(c["docs"], c["docs"], c["docs"], **kw),
}

STOPS_TXT = ["stop_lon", "stop_name", "stop_lat", "stop_id", "location_type", "parent_station"]
TRIPS_FREQ = ["route_id", "trip_id", "service_id", "shape_id", "direction_id", "trip_headsign"]
FREQS = ["trip_id", "start_time", "end_time", "headway_secs", "exact_times"]
STOP_TIMES = ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence"]
SHAPES = ["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence"]
DAYS = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]

# table → (columns, rows, sha256 of the sorted '|'-joined rows)
PINS = {
    "gh_accra": {
        "stops": (STOPS_TXT, 192, "1dd89b742c8abb96f5b398983b803b1cc64e825dfd8fe4bce4d0bbad86e37ff1"),
        "routes": (
            ["route_type", "route_id", "route_short_name", "route_long_name", "route_color",
             "route_text_color"],
            6, "ad890d86e3d9cfde4749d6e7a84c85c2290a436a1cb98277f8de25cd35207d8e",
        ),
        "trips": (TRIPS_FREQ, 12, "3081fce22df89b170bc31acefb532d4cec2cf4a42d985a25e56cc83e4d715050"),
        "stop_times": (STOP_TIMES, 96, "32a1deef27b85448300fda1e2faddcf0b0d425b0fd0f3c915e91daca677f8733"),
        "frequencies": (FREQS, 12, "9d830bc9762fbf411ec2f1b918481d481b1bdb7089a94ae6bfc8220960301f35"),
        "shapes": (SHAPES, 117, "cfc9c73974b2f08d5aed03aaad3789d4ed670c25b6eb698a53417bc3c8bf0719"),
    },
    "ci_abidjan": {
        "agencies": (
            ["agency_url", "agency_name", "agency_id", "agency_timezone", "agency_lang"],
            1, "3acfaa41d5656040e276ef0625e918e3d1686b4bd8ad0bf67850db592a165445",
        ),
        "routes": (
            ["route_type", "route_id", "route_short_name", "route_long_name", "agency_id",
             "route_desc", "route_color", "route_text_color"],
            6, "6e6753a2017e94f9f4ffeccedb072971336c452dd8c4f96b24fc2e455c60730d",
        ),
        "calendar": (
            ["service_id", "start_date", "end_date", *DAYS],
            1, "fad8f41230082d8d578e55ccce09c018a35e1025380b2bba889bee6277f7d278",
        ),
        "trips": (TRIPS_FREQ, 12, "691b831cbc41cbb20694728370e6c8ce0f8353c1dd06ef9820f84ee8f0a519d3"),
        "frequencies": (FREQS, 12, "268bf166f37cc6e7531cba4acd75934f80e8221934af5fe5297ed60df5963b6e"),
        "stop_times": (STOP_TIMES, 96, "70d1def388bf17365f1b2ac6260e4fde7dd6b33f03ca5dbb9e9a98e8f4f1c9c4"),
        "stops": (STOPS_TXT, 96, "ece876c02c8fa8b711b1e943c44a57ff24c7f45ae2a5678ad35f8f2b0943d99b"),
    },
    "br_florianopolis": {
        "stops": (STOPS_TXT, 96, "3dd46ec86ad438238141e9d618b5ad70fbd00409aba4fe070ab055830d843866"),
        "routes": (
            ["route_type", "route_id", "route_short_name", "route_long_name", "agency_id",
             "route_desc", "route_url", "route_color", "route_text_color"],
            6, "a7f4955ac7abd751e63c545401b258ba4bf68dbd70679e192b55857be711bc24",
        ),
        "calendar": (
            ["service_id", "start_date", "end_date", *DAYS],
            4, "16daa685cb730d1267e1ad8babae3cb8172b5406323b53c54f455048518052b3",
        ),
        "calendar_dates": (
            ["service_id", "date", "exception_type"],
            1, "1a3f9416143e9614875b0d4d69e49a406edeb4c2271de8c621a4125bf0efd3ec",
        ),
        "trips": (
            ["route_id", "trip_id", "trip_headsign", "service_id", "block_id",
             "wheelchair_accessible", "bikes_allowed", "shape_id", "direction_id"],
            30, "72a27e73af2490c354d9598df824b256ae56a31067938223bbec38614a3b8d50",
        ),
        "stop_times": (STOP_TIMES, 240, "71951de7aa4d9e47b9e6c7c31074b462051da9cd3494f02e991582d66c8c6ccd"),
        "shapes": (SHAPES, 57, "093aae5297ad14c0021e27d618088610faea35d0d14d5070c74521c5eaf2be7a"),
    },
    "default": {
        "stops": (STOPS_TXT, 132, "3979c777390290448dd5e4c086b6d6c388cf04d75b50643e9c269c4d9bcd65f8"),
        "routes": (
            ["route_type", "route_id", "route_short_name", "route_long_name", "route_color",
             "route_text_color", "route_url"],
            6, "7178857b6b97e3001d62d6ac999a2fb937e722e263b3b55a6628f1f4c2a36ba4",
        ),
        "trips": (
            ["route_id", "trip_id", "trip_headsign", "service_id", "shape_id"],
            70, "dfe9a5cf1d59fc80234e81eb24b940a6d967d853ed1b886cdac6cda3d3892956",
        ),
        "stop_times": (STOP_TIMES, 553, "d386cd59592798f448e47d1c6ced80d61cd6e72fd1beb5d6a4a0eb9c9dd46362"),
        "calendar": (
            ["service_id", *DAYS, "start_date", "end_date"],
            4, "da02d8f9053e4e380f12f76259eb2f5df2600d23f2817230bba07ec43ab9dac3",
        ),
        "shapes": (SHAPES, 107, "0f168994409684f1c05d24e33f600f6289d465e6934de57142e78dfad1a6e7bc"),
    },
}

# selector → sha256 of write_members_zip(FM.members(selector, tables, CONFIG))
MEMBERS_ZIP_PINS = {
    "gh_accra": "632bd5e21c26819cd9b5577f816cd55919e63a1c348bd89856965e501ac74aa8",
    "ci_abidjan": "a749008e7332260c5d94de41620176152cf0ab9adf2316965252e91fe54ea86c",
    "br_florianopolis": "5dac012c098588ef692a574edad25c83576a5b4c4c8152f05f7ac6545625fa19",
    "default": "962407fd67a7fcfad11b16e1c80b97949b0fa87c631e5e00cce9dffc36ca5469",
}
CONFIG = {
    "agency": {
        "agency_phone": "+1 555 0100",
        "agency_url": "https://example.org",
        "agency_id": "AG",
        "agency_name": "Agency, Inc.",
        "agency_timezone": "UTC",
        "agency_lang": "en",
    },
    "feed_info": {
        "publisher_name": "Publisher",
        "publisher_url": "https://example.org/feed",
        "version": "0.1",
        "start_date": "20180301",
        "end_date": "20190228",
    },
}


def fenix_payload(n_lines: int) -> dict:
    return {
        "data": {
            str(i): {
                "nome": f"Linha {i}",
                "tempo_de_percurso": f"00:{30 + 5 * i} aproximado",
                "horarios": {
                    f"Dias Úteis - Saída Terminal {i}A": [
                        [["06:00", ""], ["07:30", ""]],
                        [["17:10", ""]],
                    ],
                    f"Sábado - Saída Terminal {i}B": [[["08:15", ""]]],
                },
                # a Saturday after the default feed start (20180301)
                "operacoes": [{"data": "2018-06-02", "tipo": "Sábado"}],
            }
            for i in range(n_lines)
        }
    }


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("fenix") / "linhas.json"
    path.write_text(json.dumps(fenix_payload(SPEC.n_lines)))
    return {"docs": D.docs_df(spark, SPEC), "fenix": fenix_docs_df(spark, str(path))}


def fingerprints(tables) -> dict:
    out = {}
    for field in dataclasses.fields(tables):
        df = getattr(tables, field.name)
        rows = sorted("|".join("" if v is None else str(v) for v in r) for r in df.collect())
        out[field.name] = (df.columns, len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest())
    return out


@pytest.mark.parametrize("selector", list(PINS))
def test_city_selector_pinned(spark, corpus, selector):
    assert fingerprints(BUILDERS[selector](corpus)) == PINS[selector]


def _persistent_rdds(spark) -> dict:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): rdds.get(k) for k in rdds.keySet().toArray()}


@pytest.mark.parametrize("selector", list(PINS))
def test_city_selector_leaves_no_cache(spark, corpus, selector):
    """Every stage is stored by the stage walk; no builder caches a
    frame. The walk's own local checkpoints are the stored stages and
    are released with the frames that read them."""
    spark.catalog.clearCache()
    before = set(_persistent_rdds(spark))
    tables = BUILDERS[selector](corpus)
    for field in dataclasses.fields(tables):
        getattr(tables, field.name).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    left = {i: rdd for i, rdd in _persistent_rdds(spark).items() if i not in before}
    assert all(rdd.rdd().isLocallyCheckpointed() for rdd in left.values()), left


@pytest.mark.parametrize("selector", list(PINS))
def test_city_selector_resumes(spark, corpus, selector, tmp_path, caplog):
    """A second run on the same catalog resumes every stage and gives
    the pinned tables."""
    catalog = CheckpointCatalog(spark, str(tmp_path / "ckpt"))
    BUILDERS[selector](corpus, catalog=catalog)
    stages = {m["stage"] for m in catalog.metrics()}
    assert stages
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="osm2gtfs_spark.pipeline"):
        tables = BUILDERS[selector](corpus, catalog=catalog)
    logged = {r.getMessage().split()[1]: r.getMessage().split()[2] for r in caplog.records}
    assert logged == dict.fromkeys(stages, "resumed:")
    assert fingerprints(tables) == PINS[selector]


@pytest.mark.parametrize("selector", list(PINS))
def test_city_selector_zip_layout_invariance(spark, corpus, selector, tmp_path):
    """The members zip does not depend on the physical layout of the
    docs parquet: as written, round-robin into 8 partitions and
    coalesced into one give the pinned bytes. Rows collected in shuffle
    order, unsorted, moved stops.txt (and trips.txt, frequencies.txt)
    between layouts and between runs."""
    src = str(tmp_path / "docs")
    corpus["docs"].write.parquet(src)
    built = spark.read.parquet(src)
    layouts = {"as_written": built, "round_robin_8": built.repartition(8), "coalesced_1": built.coalesce(1)}
    got = {}
    for name, df in layouts.items():
        path = str(tmp_path / f"docs_{name}")
        df.write.parquet(path)
        tables = BUILDERS[selector]({**corpus, "docs": spark.read.parquet(path)})
        zpath = write_members_zip(FM.members(selector, tables, CONFIG), str(tmp_path / f"{name}.zip"))
        got[name] = hashlib.sha256(open(zpath, "rb").read()).hexdigest()
    assert set(got.values()) == {MEMBERS_ZIP_PINS[selector]}, got
