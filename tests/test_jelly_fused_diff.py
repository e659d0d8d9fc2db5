"""Golden-fixture gate for the Jelly encoder.

The per-segment encoder (one applyInPandas task per segment,
dictionaries built in-task — `cli_spark.jelly._encode_segments_fused`)
must reproduce, byte for byte, the streams the join-based encoder it
replaced wrote. Those streams were captured before that encoder was
deleted and are stored as delimited `.jelly` files under
`tests/fixtures/encoder/`, one per config: prefix table on/off,
large/small name tables (small tables exercise multi-segment streams
and RDF-star atoms overflowing the declared bound), and the
TRIPLES/QUADS/GRAPHS namespace-declaration matrix. The namespace
fixtures pin every byte but the order of the namespace rows among
themselves (see `test_fused_namespaces_match_joins_bytes`). They are
frozen: regenerating them from the encoder under test would check
nothing.
"""
from __future__ import annotations

import io
import os

import pyspark.sql.functions as F
import pytest

import cli_spark.jelly as J
from cli_spark.jelly import (
    PHYSICAL_GRAPHS,
    PHYSICAL_QUADS,
    PHYSICAL_TRIPLES,
    StreamOptions,
)
from cli_spark.jellywire import (
    K_NAMESPACE,
    decode_frame,
    read_varint,
    split_delimited,
    write_varint,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "encoder")
ROWS_PER_FRAME = 16
# an IRI no statement uses, an unsplittable IRI (empty prefix), an IRI
# statements also use; neither name- nor IRI-sorted
NAMESPACES = [
    ("zz", "http://unused.org/ns#"),
    ("kg", "kg:"),
    ("lbl", "http://ex.org/p/label"),
    ("ex", "http://ex.org/s/"),
]
NS_CONFIGS = [
    (phys, pt, mnt)
    for phys in ("triples", "quads", "graphs")
    for pt in ((False,) if phys == "graphs" else (False, True))
    for mnt in (4096, 64)
]
PHYSICAL = {
    "triples": PHYSICAL_TRIPLES, "quads": PHYSICAL_QUADS,
    "graphs": PHYSICAL_GRAPHS,
}


def _with_graph(triples):
    return triples.withColumn(
        "graph",
        F.when(F.col("obj_kind") == 0, F.lit("http://ex.org/g/1"))
        .otherwise(F.lit(None)),
    )


@pytest.fixture(scope="module")
def triples(spark):
    rows = []
    for i in range(300):
        rows.append((f"http://ex.org/s/{i % 97}", f"http://ex.org/p/{i % 13}",
                     f"http://ex.org/o/{i}", 0, None, None))
        rows.append((
            f"http://ex.org/s/{i % 97}", "http://ex.org/p/label",
            f"value {i}", 2,
            "http://www.w3.org/2001/XMLSchema#string" if i % 3 == 0 else None,
            "en" if i % 5 == 0 else None,
        ))
        if i % 50 == 0:
            rows.append((
                f"_:b{i}", "http://ex.org/p/star",
                f'<< <http://ex.org/s/{i}> <http://ex.org/p/1> "lit{i}" >>',
                3, None, None,
            ))
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_kind int, "
        "obj_datatype string, obj_lang string",
    ).persist()


def _namespaces(spark, decls):
    return spark.createDataFrame(decls, "name string, iri string")


def _options(phys: str, mnt: int) -> StreamOptions:
    return StreamOptions(physical_type=PHYSICAL[phys], max_name_table=mnt,
                         max_dt_table=mnt)


def _encode(spark, triples, phys, pt, mnt, ns):
    opts = _options(phys, mnt)
    if phys == "triples":
        return J.encode_triples(spark, triples, rows_per_frame=ROWS_PER_FRAME,
                                options=opts, prefix_table=pt, namespaces=ns)
    quads = _with_graph(triples)
    if phys == "quads":
        return J.encode_quads(spark, quads, rows_per_frame=ROWS_PER_FRAME,
                              options=opts, prefix_table=pt, namespaces=ns)
    return J.encode_quads_graphs(spark, quads, rows_per_frame=ROWS_PER_FRAME,
                                 options=opts, namespaces=ns)


def _stream_bytes(frames) -> bytes:
    """Frames table → the delimited stream `write_jelly_file` writes."""
    buf = io.BytesIO()
    for r in frames.orderBy("seg", "frame_index").collect():
        write_varint(buf, len(r.frame_bytes))
        buf.write(bytes(r.frame_bytes))
    return buf.getvalue()


def _frame_rows(frame: bytes) -> list[bytes]:
    """One frame's payload → its `RdfStreamRow` messages, in order."""
    rows, pos = [], 0
    while pos < len(frame):
        assert frame[pos] == 0x0A  # RdfStreamFrame.rows, length-delimited
        n, pos = read_varint(frame, pos + 1)
        rows.append(frame[pos:pos + n])
        pos += n
    return rows


NAMESPACE_TAG = (K_NAMESPACE << 3) | 2


def _namespace_order_free(stream: bytes) -> list:
    """Per frame: its rows with every namespace row replaced by a
    marker, plus that frame's namespace rows sorted. Equal values mean
    equal bytes up to the order of the namespace rows among
    themselves."""
    out = []
    for frame in split_delimited(stream)[1]:
        rows = _frame_rows(frame)
        out.append((
            [None if r[0] == NAMESPACE_TAG else r for r in rows],
            sorted(r for r in rows if r[0] == NAMESPACE_TAG),
        ))
    return out


def _declared_names(stream: bytes) -> list[str]:
    return [
        row["name"]
        for frame in split_delimited(stream)[1]
        for row in decode_frame(frame)
        if row["kind"] == K_NAMESPACE
    ]


def _fixture(name: str) -> bytes:
    with open(os.path.join(FIXTURES, name + ".jelly"), "rb") as fh:
        return fh.read()


def _plain_name(mnt, pt):
    return f"triples_pt{int(pt)}_n{mnt}"


def _ns_name(phys, pt, mnt):
    return f"{phys}_pt{int(pt)}_n{mnt}_ns"


EMPTY_NS = "triples_pt1_n4096_ns_empty"


@pytest.mark.parametrize("prefix_table", [False, True])
@pytest.mark.parametrize("max_name_table", [4096, 64])
def test_fused_matches_joins_bytes(spark, triples, prefix_table, max_name_table):
    want = _fixture(_plain_name(max_name_table, prefix_table))
    args = ("triples", prefix_table, max_name_table, None)
    assert _stream_bytes(_encode(spark, triples, *args)) == want


@pytest.mark.parametrize("phys,prefix_table,max_name_table", NS_CONFIGS)
def test_fused_namespaces_match_joins_bytes(
    spark, triples, phys, prefix_table, max_name_table
):
    """The join-based encoder left the order of the namespace rows among
    themselves to its join's output order, which differs between runs,
    so the fixture pins every other byte; the fused encoder emits the
    declarations in the order given."""
    want = _namespace_order_free(
        _fixture(_ns_name(phys, prefix_table, max_name_table)))
    args = (phys, prefix_table, max_name_table, _namespaces(spark, NAMESPACES))
    got = _stream_bytes(_encode(spark, triples, *args))
    assert _namespace_order_free(got) == want
    assert _declared_names(got) == [name for name, _ in NAMESPACES]


def test_fused_empty_namespace_list_matches_joins_bytes(spark, triples):
    """An empty declaration list still marks the stream version 2."""
    want = _fixture(EMPTY_NS)
    args = ("triples", True, 4096, _namespaces(spark, []))
    assert _stream_bytes(_encode(spark, triples, *args)) == want
    assert decode_frame(split_delimited(want)[1][0])[0]["version"] == J.VERSION_MAX


def test_fused_quads_roundtrip(spark, triples):
    quads = _with_graph(triples)
    out = J.roundtrip_quads(spark, quads, rows_per_frame=16, prefix_table=True)
    got = {(r.subj, r.pred, r.obj, r.obj_kind, r.graph) for r in out.collect()}
    want = {(r.subj, r.pred, r.obj, r.obj_kind, r.graph)
            for r in quads.dropDuplicates(
                ["subj", "pred", "obj", "obj_kind", "graph"]).collect()}
    assert got == want


def test_fused_graphs_roundtrip(spark, triples):
    quads = _with_graph(triples)
    frames = J.encode_quads_graphs(spark, quads, rows_per_frame=16)
    out = J.decode_quads_graphs(J.decode_frames(frames))
    got = {(r.subj, r.pred, r.obj, r.obj_kind, r.graph) for r in out.collect()}
    want = {(r.subj, r.pred, r.obj, r.obj_kind, r.graph)
            for r in quads.dropDuplicates(
                ["subj", "pred", "obj", "obj_kind", "graph"]).collect()}
    assert got == want
