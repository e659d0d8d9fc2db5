"""Byte goldens for ``jelly.transcode_frames``.

The streams here are built row by row with the wire's stateful
compression, which this repo's encoder never writes: implicit entry
ids, IRI name id 0 (previous + 1) and prefix id 0 (previous prefix),
elided statement terms, a stream with no prefix table, RDF-star with
implicit ids inside quoted triples, QUADS with an elided and a default
graph, GRAPHS with graph start/end rows and a namespace row, two
sub-streams in one input with an empty frame between them, and frame
metadata. Each case is transcoded alone and in the concatenations
listed in ``CASES``; the 15 encoder fixtures are transcoded alone.

``tests/fixtures/transcode/goldens.json`` maps each case to the sha256
of the delimited file ``write_jelly_file`` writes for the transcode
output. The digests were captured from the transcode that sequenced ids
in its own walk, before it moved onto ``jellywire.StreamState``; they
pin that the move kept the bytes. Every case also checks that the
output resolves to the inputs' statements in order, so a digest never
pins a wrong stream.

``python tests/test_transcode_goldens.py`` rewrites the digests. Run it
only when the output is meant to change, and say so in CHANGES.md.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cli_spark import jelly as J  # noqa: E402
from cli_spark import jellywire as JW  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
GOLDENS_PATH = os.path.join(FIXTURES, "transcode", "goldens.json")
ENCODER_DIR = os.path.join(FIXTURES, "encoder")

XSD_INT = "http://www.w3.org/2001/XMLSchema#int"


# ------------------------------------------------------------ raw rows


def _opts(physical, logical=0, version=1, rdf_star=False, max_prefix=8, name=""):
    return {
        "kind": JW.K_OPTIONS, "stream_name": name, "physical": physical,
        "generalized": False, "rdf_star": rdf_star, "logical": logical,
        "version": version, "max_name": 16, "max_prefix": max_prefix,
        "max_dt": 8,
    }


def _iri(nid=0, pid=0):
    return {"k": JW.T_IRI, "pid": pid, "nid": nid}


def _lit(v, dt=0, lang=None):
    return {"k": JW.T_LITERAL, "v": v, "lang": lang, "dt": dt}


def _bn(v):
    return {"k": JW.T_BNODE, "v": v}


def _quoted(s, p, o):
    return {"k": JW.T_QUOTED, "s": s, "p": p, "o": o}


def _entry(kind, value, eid=0):
    return {"kind": kind, "id": eid, "value": value}


def _name(value, eid=0):
    return _entry(JW.K_NAME, value, eid)


def _prefix(value, eid=0):
    return _entry(JW.K_PREFIX, value, eid)


def _triple(s=None, p=None, o=None):
    return {"kind": JW.K_TRIPLE, "s": s, "p": p, "o": o}


def _quad(s=None, p=None, o=None, g=None):
    return {"kind": JW.K_QUAD, "s": s, "p": p, "o": o, "g": g}


# ------------------------------------------------------------ streams
# A stream is a list of frames; a frame is (rows, metadata or None).


def stream_implicit():
    """Implicit entry ids; name id 0 and prefix id 0 repeats; a reused
    name slot."""
    return [
        ([
            _opts(1, logical=1),
            _prefix("http://ex.org/"), _prefix("http://other.org/"),
            _name("s1"), _name("p"), _name("o1"), _name("s2"),
            _entry(JW.K_DATATYPE, XSD_INT),
            _triple(_iri(0, 1), _iri(0, 0), _iri(0, 0)),
        ], None),
        ([
            _triple(_iri(4, 2), _iri(2, 1), _lit("5", dt=1)),
            _triple(_iri(1, 0), _iri(0, 0), _bn("b1")),
        ], None),
        ([
            _name("o2", 3), _name("p2"),
            _triple(_iri(3, 0), _iri(4, 1), _iri(1, 2)),
            _triple(_iri(0, 0), _iri(2, 0), _lit("x", lang="en")),
        ], None),
    ]


def stream_elided():
    """Elided subject and predicate, explicit ids."""
    return [
        ([
            _opts(1, logical=1),
            _prefix("http://ex.org/", 1),
            _name("s", 1), _name("p", 2), _name("a", 3), _name("b", 4),
            _triple(_iri(1, 1), _iri(2, 1), _iri(3, 1)),
            _triple(None, None, _iri(4, 1)),
        ], None),
        ([
            _triple(None, _iri(3, 1), _lit("v")),
            _triple(_iri(4, 1), None, None),
        ], None),
    ]


def stream_no_prefix():
    """No prefix table: every IRI has prefix id 0."""
    return [
        ([
            _opts(1, logical=1, max_prefix=0),
            _name("http://np.org/s"), _name("http://np.org/p"),
            _name("http://np.org/o"),
            _triple(_iri(1), _iri(), _iri()),
            _triple(_iri(1), _iri(2), _lit("lit")),
        ], None),
        ([
            _triple(_iri(3), _iri(2), _bn("x")),
        ], None),
    ]


def stream_rdfstar():
    """RDF-star: implicit name ids inside quoted triples, nested."""
    inner = _quoted(_iri(0, 1), _iri(0, 0), _lit("q"))
    return [
        ([
            _opts(1, logical=1, rdf_star=True),
            _prefix("http://star.org/"),
            _name("a"), _name("b"), _name("c"), _name("d"),
            _triple(inner, _iri(3, 0), _iri(0, 0)),
        ], None),
        ([
            _triple(
                _iri(1, 1), _iri(2, 0),
                _quoted(_bn("z"), _iri(3), _quoted(_iri(4), _iri(2), _iri(0))),
            ),
            _triple(None, None, _quoted(_iri(1), _iri(0), _iri(0))),
        ], None),
    ]


def stream_quads():
    """QUADS with an elided graph, the default graph and a bnode graph."""
    return [
        ([
            _opts(2, logical=2),
            _prefix("http://q.org/"),
            _name("s"), _name("p"), _name("o"), _name("g"),
            _quad(_iri(1, 1), _iri(0, 0), _iri(0, 0), _iri(0, 0)),
            _quad(None, None, _lit("v"), None),
        ], None),
        ([
            _quad(_iri(3, 1), None, _iri(1, 1), {"k": JW.T_DEFAULT_GRAPH}),
            _quad(_iri(1, 1), _iri(2, 1), _iri(4, 1), None),
            _quad(None, None, _bn("o2"), _bn("gb")),
        ], None),
    ]


def stream_graphs():
    """GRAPHS: graph start/end rows and a namespace row."""
    return [
        ([
            _opts(3, logical=3, version=2),
            _prefix("http://g.org/"),
            _name(""), _name("s"), _name("p"), _name("g1"),
            {"kind": JW.K_NAMESPACE, "name": "ex", "iri": _iri(1, 1)},
            {"kind": JW.K_GRAPH_START, "g": _iri(4, 1)},
            _triple(_iri(2, 0), _iri(0, 0), _lit("a")),
        ], None),
        ([
            _triple(None, None, _lit("b")),
            {"kind": JW.K_GRAPH_END},
            {"kind": JW.K_GRAPH_START, "g": {"k": JW.T_DEFAULT_GRAPH}},
            _triple(_iri(2, 1), _iri(3, 1), _bn("c")),
            {"kind": JW.K_GRAPH_END},
            {"kind": JW.K_GRAPH_START, "g": _bn("gb")},
            _triple(None, None, _iri(0, 0)),
            {"kind": JW.K_GRAPH_END},
        ], None),
    ]


def stream_substreams():
    """Two sub-streams in one input, an empty frame between them; the
    second restarts its implicit ids."""
    return [
        ([
            _opts(1, logical=1),
            _prefix("http://one.org/"), _name("x"), _name("y"),
            _triple(_iri(1, 1), _iri(0, 0), _iri(1, 0)),
        ], None),
        ([], None),
        ([
            _opts(1, logical=1, max_prefix=0),
            _name("http://two.org/u"), _name("http://two.org/v"),
            _name("http://two.org/w"),
            _triple(_iri(0), _iri(0), _iri(0)),
            _triple(None, _iri(1), None),
        ], None),
    ]


def stream_metadata():
    """Frame metadata on the first and last frames."""
    return [
        ([
            _opts(1, logical=1),
            _prefix("http://m.org/"), _name("s"), _name("p"),
            _triple(_iri(1, 1), _iri(0, 0), _lit("1")),
        ], [("key", bytes.fromhex("1337ff")), ("k2", b"\x00\x01")]),
        ([
            _triple(None, None, _lit("2")),
        ], None),
        ([
            _triple(_iri(2, 1), _iri(1, 1), _lit("3")),
        ], [("last", b"z")]),
    ]


STREAMS = {
    "A": stream_implicit,
    "B": stream_elided,
    "C": stream_no_prefix,
    "D": stream_rdfstar,
    "E": stream_quads,
    "F": stream_metadata,
    "G": stream_graphs,
    "H": stream_substreams,
}

# case name → (input stream letters, transcode keyword arguments)
CASES = {
    **{k: ([k], {}) for k in STREAMS},
    "A+B": (["A", "B"], {}),
    "B+A": (["B", "A"], {}),
    "A+C+F": (["A", "C", "F"], {}),
    "D+D": (["D", "D"], {}),
    "E+E": (["E", "E"], {}),
    "A+H named": (["A", "H"], {"stream_name": "merged"}),
}

ENCODER_FIXTURES = sorted(
    n for n in os.listdir(ENCODER_DIR) if n.endswith(".jelly")
)


def _blobs(stream) -> list[bytes]:
    return [JW.encode_frame(rows, metadata=md) for rows, md in stream]


def _frames_df(spark, blobs):
    return spark.createDataFrame(
        [(0, i, -1, bytearray(b)) for i, b in enumerate(blobs)], J.FRAME_SCHEMA
    )


def _statements(blobs) -> list[dict]:
    return [
        row for _, _, row in JW.resolve_frames(blobs)
        if row["kind"] in (JW.K_TRIPLE, JW.K_QUAD)
    ]


def _transcode_file(spark, inputs: list[list[bytes]], path: str, **kw) -> bytes:
    out = J.transcode_frames(spark, [_frames_df(spark, b) for b in inputs], **kw)
    J.write_jelly_file(out, path)
    with open(path, "rb") as fh:
        return fh.read()


def _case_output(spark, case: str, path: str) -> tuple[bytes, list[list[bytes]]]:
    letters, kw = CASES[case]
    inputs = [_blobs(STREAMS[x]()) for x in letters]
    return _transcode_file(spark, inputs, path, **kw), inputs


def _encoder_output(spark, name: str, path: str) -> tuple[bytes, list[bytes]]:
    with open(os.path.join(ENCODER_DIR, name), "rb") as fh:
        _, blobs = JW.split_delimited(fh.read())
    return _transcode_file(spark, [blobs], path), blobs


def _digest(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _load_goldens() -> dict:
    with open(GOLDENS_PATH) as fh:
        return json.load(fh)


@pytest.mark.parametrize("case", list(CASES))
def test_transcode_case_golden(spark, tmp_path, case):
    data, inputs = _case_output(spark, case, str(tmp_path / "out.jelly"))
    _, blobs = JW.split_delimited(data)
    expected = [st for b in inputs for st in _statements(b)]
    assert _statements(blobs) == expected
    assert _digest(data) == _load_goldens()["cases"][case]


def test_transcode_encoder_fixtures_golden(spark, tmp_path):
    goldens = _load_goldens()["encoder"]
    assert sorted(goldens) == ENCODER_FIXTURES
    for name in ENCODER_FIXTURES:
        data, blobs = _encoder_output(spark, name, str(tmp_path / "out.jelly"))
        _, out_blobs = JW.split_delimited(data)
        assert _statements(out_blobs) == _statements(blobs), name
        assert _digest(data) == goldens[name], name


def test_transcode_keeps_elision_over_overwritten_entry(spark, tmp_path):
    """An elided term whose name, prefix or datatype slot was
    overwritten after the term was written stays elided in the output:
    filled in with its ids, it would name the slot's new value (subject
    a would become z)."""
    stream = [
        ([
            _opts(1, logical=1),
            _prefix("http://e/"), _name("a"), _name("p"),
            _entry(JW.K_DATATYPE, XSD_INT),
            _triple(_iri(1, 1), _iri(2, 1), _lit("1", dt=1)),
        ], None),
        ([
            _name("z", 1),
            _triple(None, _iri(2, 1), None),
            _entry(JW.K_DATATYPE, "http://e/dt", 1),
            _triple(None, None, None),
            _triple(_iri(1, 1), None, _lit("2", dt=1)),
        ], None),
    ]
    blobs = _blobs(stream)
    data = _transcode_file(spark, [blobs], str(tmp_path / "out.jelly"))
    _, out = JW.split_delimited(data)
    got = _statements(out)
    assert got == _statements(blobs)
    assert [st["s"][0] for st in got] == ["http://e/a"] * 3 + ["http://e/z"]
    raw = [r for b in out for r in JW.decode_frame(b) if r["kind"] == JW.K_TRIPLE]
    assert [r["s"] is None for r in raw] == [False, True, True, False]
    assert [r["o"] is None for r in raw] == [False, False, True, False]


if __name__ == "__main__":
    import tempfile

    from cli_spark.session import get_spark

    spark = get_spark("transcode_goldens", master="local[2]", shuffle_partitions=2)
    path = os.path.join(tempfile.mkdtemp(), "out.jelly")
    goldens = {
        "cases": {c: _digest(_case_output(spark, c, path)[0]) for c in CASES},
        "encoder": {
            n: _digest(_encoder_output(spark, n, path)[0]) for n in ENCODER_FIXTURES
        },
    }
    spark.stop()
    os.makedirs(os.path.dirname(GOLDENS_PATH), exist_ok=True)
    with open(GOLDENS_PATH, "w") as fh:
        json.dump(goldens, fh, indent=2, sort_keys=True)
        fh.write("\n")
