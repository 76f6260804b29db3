"""The interleaved-document table: synthesis, decode, span invariant.

The north-rule input shape (BASELINE.json ``input_hint``)::

    docs (doc_id string,
          spans array<struct<kind:string, text:string,
                             media_ref:string, offset:int>>)

One document per OSM entity or schedule record; the entity payload is
serialized into the ordered span sequence, with opaque media spans
interleaved as ballast (the engine carries them untouched — they exist
to make rows wide and shuffles honest).

Span kinds:
- ``geom``      — ``"lat,lon"`` (nodes)
- ``tag``       — ``"k=v"`` (all entities; sorted by key at encode)
- ``noderef``   — way member node id, one span per ref, in order
- ``member``    — ``"mtype/ref/role"`` (relations), in order
- ``schedule``  — timetable JSON fragment
- ``image``     — ballast: empty text, ``media_ref="media://<md5>"``

DECODE is pure column expressions (filter/transform/map_from_entries on
the spans array) — zero Python in the plan, so it rides whole-stage
codegen and scales to 10^12 docs. The reference's equivalent is overpy
XML parsing (``osm2gtfs/core/osm_connector.py:562-618`` + fixture parse
at ``tests/creators/creators_tests.py:116-120``).

SYNTHESIS is test/bench infrastructure (driver-side, seeded, pandas) —
it is not on the 100 TB data path, so clarity wins over distribution;
the bench harness scales it by raising the spec counts.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)
DOCS_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.StringType()), T.StructField("spans", SPAN_SCHEMA)]
)

SCHEDULE_JSON_SCHEMA = T.StructType(
    [
        T.StructField("route_ref", T.StringType()),
        T.StructField("from", T.StringType()),
        T.StructField("to", T.StringType()),
        T.StructField("via", T.StringType()),
        T.StructField("services", T.ArrayType(T.StringType())),
        T.StructField("stations", T.ArrayType(T.StringType())),
        T.StructField("times", T.ArrayType(T.ArrayType(T.StringType()))),
    ]
)


# ---------------------------------------------------------------------------
# Synthesis (seeded fixture generator — SURVEY.md §5 / FIXTURES.md §6)
# ---------------------------------------------------------------------------

@dataclass
class CitySpec:
    """Deterministic synthetic city (accra-like or managua-like)."""

    name: str = "accra_like"
    seed: int = 42
    n_lines: int = 5
    variants_per_line: int = 2
    stops_per_variant: int = 8
    geom_nodes_per_way: int = 4
    bbox: tuple[float, float, float, float] = (5.45, -0.35, 5.75, 0.10)  # s,w,n,e
    with_stop_areas: bool = False  # managua-like stations
    with_schedule: bool = False  # managua-like timetable docs
    media_every: int = 2  # insert a media ballast span after every k text spans
    # edge-case knobs (FIXTURES.md §6)
    unnamed_stop_ratio: float = 0.15
    duplicate_name_ratio: float = 0.2
    masterless_variant_ratio: float = 0.15
    broken_way_ratio: float = 0.1  # non-contiguous ways → shape-stitch break


ID_NODE_PLATFORM = 10_000_000
ID_NODE_GEOM = 20_000_000
ID_WAY = 30_000_000
ID_REL_VARIANT = 40_000_000
ID_REL_MASTER = 50_000_000
ID_REL_STOPAREA = 60_000_000

_COLOURS = ["red", "#0000FF", "green", "#FFD700", "invalidcolour", "#12AB34"]


def _media_ref(doc_id: str, pos: int) -> str:
    return "media://" + hashlib.md5(f"{doc_id}:{pos}".encode()).hexdigest()


def _interleave(doc_id: str, text_spans: list[tuple[str, str]], every: int) -> list[dict]:
    """Assign offsets, inserting an image ballast span after every N texts."""
    out: list[dict] = []
    for i, (kind, text) in enumerate(text_spans):
        out.append({"kind": kind, "text": text, "media_ref": "", "offset": len(out)})
        if every > 0 and (i + 1) % every == 0:
            out.append(
                {
                    "kind": "image",
                    "text": "",
                    "media_ref": _media_ref(doc_id, len(out)),
                    "offset": len(out),
                }
            )
    return out


def _tag_spans(tags: dict[str, str]) -> list[tuple[str, str]]:
    return [("tag", f"{k}={v}") for k, v in sorted(tags.items())]


def synthesize_city(spec: CitySpec) -> pd.DataFrame:
    """Build the docs table for one synthetic city. Fully deterministic."""
    rng = random.Random(spec.seed)
    s, w, n, e = spec.bbox
    docs: list[dict] = []

    def add_doc(doc_id: str, text_spans: list[tuple[str, str]]) -> None:
        docs.append({"doc_id": doc_id, "spans": _interleave(doc_id, text_spans, spec.media_every)})

    def rand_pt() -> tuple[float, float]:
        return (round(rng.uniform(s, n), 6), round(rng.uniform(w, e), 6))

    platform_names = [f"Terminal {chr(65 + i)}" for i in range(12)]
    node_id, geom_id, way_id = ID_NODE_PLATFORM, ID_NODE_GEOM, ID_WAY

    for line_i in range(spec.n_lines):
        master_id = ID_REL_MASTER + line_i
        masterless = rng.random() < spec.masterless_variant_ratio and line_i > 0
        variant_ids: list[int] = []
        for var_i in range(spec.variants_per_line):
            variant_id = ID_REL_VARIANT + line_i * spec.variants_per_line + var_i
            variant_ids.append(variant_id)
            members: list[str] = []
            stop_names: list[str] = []
            # platform stops
            n_sv = spec.stops_per_variant
            for stop_i in range(n_sv):
                lat, lon = rand_pt()
                tags = {"public_transport": "platform", "bus": "yes"}
                # schedule cities force-name terminal + mid stops so the
                # timetable's station names resolve (trips_creator.py:195-245)
                if spec.with_schedule and stop_i in (0, n_sv // 2, n_sv - 1):
                    ends = ("A", "B") if var_i % 2 == 0 else ("B", "A")
                    nm = (
                        f"Terminal {line_i}{ends[0]}"
                        if stop_i == 0
                        else f"Terminal {line_i}{ends[1]}"
                        if stop_i == n_sv - 1
                        else f"Mid {line_i}"
                    )
                    tags["name"] = nm
                    stop_names.append(nm)
                elif rng.random() >= spec.unnamed_stop_ratio:
                    if rng.random() < spec.duplicate_name_ratio:
                        nm = rng.choice(platform_names)
                    else:
                        nm = f"Stop {line_i}-{var_i}-{stop_i}"
                    tags["name"] = nm
                    stop_names.append(nm)
                if rng.random() < 0.3:
                    tags["ref"] = f"P{node_id % 100000}"
                add_doc(
                    f"node/{node_id}",
                    [("geom", f"{lat},{lon}")] + _tag_spans(tags),
                )
                members.append(f"node/{node_id}/platform")
                node_id += 1
            # way geometry (ordered; some deliberately non-contiguous)
            prev_tail_id: int | None = None
            n_ways = 3
            for wi in range(n_ways):
                refs = []
                broken = rng.random() < spec.broken_way_ratio and wi > 0
                for gi in range(spec.geom_nodes_per_way):
                    if gi == 0 and prev_tail_id is not None and not broken:
                        # contiguous ways share the junction NODE (same id),
                        # as in real OSM — the stitcher matches by node id
                        refs.append(prev_tail_id)
                        continue
                    lat, lon = rand_pt()
                    add_doc(f"node/{geom_id}", [("geom", f"{lat},{lon}")])
                    refs.append(geom_id)
                    geom_id += 1
                prev_tail_id = refs[-1]
                add_doc(
                    f"way/{way_id}",
                    [("noderef", str(r)) for r in refs] + _tag_spans({"highway": "road"}),
                )
                members.append(f"way/{way_id}/")
                way_id += 1
            vtags = {
                "type": "route",
                "route": "bus",
                "ref": str(line_i),
                "name": f"Route {line_i} variant {var_i}",
                "from": stop_names[0] if stop_names else f"From {line_i}",
                "to": stop_names[-1] if stop_names else f"To {line_i}",
                # reference reads travel_time from the route variant's tags
                # (gh_accra/trips_creator_gh_accra.py:73-86); one invalid per
                # a few lines to exercise the default fallback
                "travel_time": str(30 + (line_i % 3) * 10) if line_i % 5 else "-5",
            }
            if var_i == 0 and spec.with_schedule:
                vtags["via"] = f"Via {line_i}"
            add_doc(
                f"relation/{variant_id}",
                [("member", m) for m in members] + _tag_spans(vtags),
            )
        if not masterless:
            mtags = {
                "type": "route_master",
                "route_master": "bus",
                "ref": str(line_i),
                "name": f"Line {line_i}",
                "colour": _COLOURS[line_i % len(_COLOURS)],
                "frequency": str(10 + (line_i % 4) * 5) if line_i % 7 else "not_a_number",
            }
            add_doc(
                f"relation/{master_id}",
                [("member", f"relation/{v}/") for v in variant_ids] + _tag_spans(mtags),
            )

    if spec.with_stop_areas:
        # group consecutive platform nodes into stop_areas; include degenerate
        # 1-member areas to exercise the >=2 drop (osm_connector.py:519-530)
        pids = [d["doc_id"] for d in docs if d["doc_id"].startswith("node/1")]
        area_id = ID_REL_STOPAREA
        i = 0
        while i < len(pids):
            size = 1 if rng.random() < 0.15 else rng.choice([2, 3])
            group = pids[i : i + size]
            i += size
            add_doc(
                f"relation/{area_id}",
                [("member", f"{p}/platform") for p in group]
                + _tag_spans(
                    {
                        "type": "public_transport",
                        "public_transport": "stop_area",
                        "name": f"Station {area_id - ID_REL_STOPAREA}",
                    }
                ),
            )
            area_id += 1

    if spec.with_schedule:
        for line_i in range(spec.n_lines):
            # one schedule row per direction, matching the forced variant
            # from/to names; 3 timed stations (terminal, mid, terminal)
            for d in range(min(2, spec.variants_per_line)):
                ends = ("A", "B") if d % 2 == 0 else ("B", "A")
                frm, to = f"Terminal {line_i}{ends[0]}", f"Terminal {line_i}{ends[1]}"
                stations = [frm, f"Mid {line_i}", to]
                times = [
                    [f"{6 + h}:{line_i % 6:02d}", f"{6 + h}:{line_i % 6 + 20:02d}", f"{6 + h}:{line_i % 6 + 45:02d}"]
                    for h in range(3)
                ]
                if line_i == 0 and d == 0:
                    times.append(["9:00", "9:99", "9:45"])  # invalid mid time → truncation path
                # variant 0 has a via tag; the composite join is null-safe on
                # via (J5), so the schedule row must carry it. The last line's
                # via is deliberately wrong → its Mo-Fr row matches nothing
                # (reference logs "From and to values didn't match").
                via = None
                if d == 0:
                    via = f"Via {line_i}" if line_i < spec.n_lines - 1 else "Wrong Via"
                payload = {
                    "route_ref": str(line_i),
                    "from": frm,
                    "to": to,
                    "via": via,
                    "services": ["Mo-Fr"] if d == 0 else ["Sa", "Su", "2024-12-25"],
                    "stations": stations,
                    "times": times,
                }
                add_doc(
                    f"schedule/{line_i}/{d}",
                    [("schedule", json.dumps(payload, sort_keys=True))],
                )

    return pd.DataFrame({"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]})


def docs_df(spark: SparkSession, spec: CitySpec, n_partitions: int = 8) -> DataFrame:
    pdf = synthesize_city(spec)
    rows = [
        (r.doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r.spans])
        for r in pdf.itertuples(index=False)
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA).repartition(n_partitions, "doc_id")


# ---------------------------------------------------------------------------
# Decode — pure column expressions, the scalable path
# ---------------------------------------------------------------------------

def _spans_of(kind: str):
    return F.filter("spans", lambda s: s.kind == F.lit(kind))


def _tags_col():
    """tag spans ``k=v`` → map<string,string> (split on first '=' only)."""
    entries = F.transform(
        _spans_of("tag"),
        lambda s: F.struct(
            F.substring_index(s.text, "=", 1).alias("key"),
            F.regexp_extract(s.text, "^[^=]*=(.*)$", 1).alias("value"),
        ),
    )
    return F.map_from_entries(entries)


def _osm_type():
    return F.substring_index("doc_id", "/", 1)


def _osm_id():
    return F.substring_index("doc_id", "/", -1).cast("long")


def decode_nodes(docs: DataFrame) -> DataFrame:
    """docs → nodes(id, lat, lon, tags). Column ops only."""
    geom = F.get(_spans_of("geom"), 0)["text"]
    return (
        docs.filter(_osm_type() == "node")
        .select(
            _osm_id().alias("id"),
            F.split(geom, ",")[0].cast("double").alias("lat"),
            F.split(geom, ",")[1].cast("double").alias("lon"),
            _tags_col().alias("tags"),
        )
    )


def decode_ways(docs: DataFrame) -> DataFrame:
    """docs → ways(id, node_refs, tags). Span order == ref order."""
    refs = F.transform(_spans_of("noderef"), lambda s: s.text.cast("long"))
    return docs.filter(_osm_type() == "way").select(
        _osm_id().alias("id"), refs.alias("node_refs"), _tags_col().alias("tags")
    )


def decode_relations(docs: DataFrame) -> DataFrame:
    """docs → relations(id, members array<struct mtype,ref,role>, tags)."""
    members = F.transform(
        _spans_of("member"),
        lambda s: F.struct(
            F.split_part(s.text, F.lit("/"), F.lit(1)).alias("mtype"),
            F.split_part(s.text, F.lit("/"), F.lit(2)).cast("long").alias("ref"),
            F.regexp_extract(s.text, "^[^/]+/[^/]+/(.*)$", 1).alias("role"),
        ),
    )
    return docs.filter(_osm_type() == "relation").select(
        _osm_id().alias("id"), members.alias("members"), _tags_col().alias("tags")
    )


def decode_schedule(docs: DataFrame) -> DataFrame:
    """docs → schedule_trips(route_ref, from, to, via, services, stations, times)."""
    payload = F.get(_spans_of("schedule"), 0)["text"]
    return (
        docs.filter(_osm_type() == "schedule")
        .select(
            F.from_json(payload, SCHEDULE_JSON_SCHEMA).alias("j"),
            # doc_id "schedule/<ref>/<i>": i is the row's position in the
            # timetable JSON array — consumption order matters for the
            # reference's service-union and time-concat semantics
            F.substring_index("doc_id", "/", -1).cast("int").alias("row_idx"),
        )
        .select("j.*", "row_idx")
    )
