"""Docs synthesis → decode roundtrip + span-sequence shuffle invariant.

Mirrors the reference's fixture-parse layer (overpy parse_xml in
``tests/creators/creators_tests.py:116-138``) recast onto the
interleaved-docs input shape (FIXTURES.md §1-2).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.sources import docs as D


def span_checksum(docs):
    """Per-row span-sequence fingerprint for the shuffle invariant.

    xxhash64 over the concatenated (kind, text, media_ref) in offset
    order — two DataFrames with equal (doc_id → checksum) maps carry
    identical span sequences (FIXTURES.md §1 invariant)."""
    canon = F.array_join(
        F.transform(
            F.array_sort(
                "spans",
                lambda a, b: F.when(a.offset < b.offset, -1).when(a.offset > b.offset, 1).otherwise(0),
            ),
            lambda s: F.concat_ws("\x1f", s.kind, s.text, s.media_ref),
        ),
        "\x1e",
    )
    return docs.select("doc_id", F.xxhash64(canon).alias("span_checksum"))


@pytest.fixture(scope="module")
def city(spark):
    spec = D.CitySpec(n_lines=4, with_stop_areas=True, with_schedule=True)
    return D.docs_df(spark, spec).cache()


def test_docs_shape(city):
    assert city.schema == D.DOCS_SCHEMA
    kinds = {
        r.kind
        for r in city.select(F.explode("spans").alias("s")).select("s.kind").distinct().collect()
    }
    assert {"geom", "tag", "member", "noderef", "schedule", "image"} <= kinds
    # media ballast spans carry media_ref and empty text
    bad = city.select(F.explode("spans").alias("s")).filter(
        (F.col("s.kind") == "image") & ((F.col("s.media_ref") == "") | (F.col("s.text") != ""))
    )
    assert bad.count() == 0


def test_decode_nodes(city):
    nodes = D.decode_nodes(city)
    assert nodes.columns == ["id", "lat", "lon", "tags"]
    n = nodes.count()
    assert n > 0
    # every node has coordinates inside the spec bbox
    s, w, nn, e = D.CitySpec().bbox
    out = nodes.filter(~(F.col("lat").between(s, nn) & F.col("lon").between(w, e)))
    assert out.count() == 0
    # platform nodes carry the tag vocabulary
    plats = nodes.filter(F.element_at("tags", "public_transport") == "platform")
    assert 0 < plats.count() < n


def test_decode_ways_order(city):
    ways = D.decode_ways(city)
    spec = D.CitySpec()
    row = ways.first()
    assert len(row.node_refs) == spec.geom_nodes_per_way
    # refs are geometry-node ids and strictly increasing the way we generated
    assert all(r >= D.ID_NODE_GEOM for r in row.node_refs)
    assert row.node_refs == sorted(row.node_refs)


def test_decode_relations_members(city):
    rels = D.decode_relations(city)
    variants = rels.filter(F.element_at("tags", "type") == "route")
    r = variants.first()
    roles = {m.role for m in r.members}
    assert "platform" in roles and "" in roles
    mtypes = {m.mtype for m in r.members}
    assert mtypes == {"node", "way"}
    # member order is preserved: platforms first (as generated), then ways
    kinds = [m.mtype for m in r.members]
    assert kinds == sorted(kinds, key=lambda k: 0 if k == "node" else 1)
    masters = rels.filter(F.element_at("tags", "type") == "route_master")
    assert masters.count() > 0


def test_decode_schedule(city):
    sched = D.decode_schedule(city)
    r = sched.filter(F.col("route_ref") == "1").filter(F.col("services")[0] == "Mo-Fr").first()
    assert r["from"] == "Terminal 1A" and r["to"] == "Terminal 1B"
    assert len(r.times) == 3 and len(r.times[0]) == len(r.stations) == 3


def test_span_sequence_survives_shuffle(city):
    """North-rule invariant: (kind, text, media_ref, order) per row is
    identical after a repartition + join round-trip."""
    before = span_checksum(city)
    shuffled = (
        city.repartition(16, "doc_id")
        .join(city.select("doc_id"), "doc_id")
        .sortWithinPartitions("doc_id")
    )
    after = span_checksum(shuffled)
    diff = (
        before.alias("b")
        .join(after.alias("a"), "doc_id", "full_outer")
        .filter(
            F.col("b.span_checksum").isNull()
            | F.col("a.span_checksum").isNull()
            | (F.col("b.span_checksum") != F.col("a.span_checksum"))
        )
    )
    assert diff.count() == 0


def test_synthesis_deterministic():
    a = D.synthesize_city(D.CitySpec(n_lines=2))
    b = D.synthesize_city(D.CitySpec(n_lines=2))
    assert a.equals(b)
