"""Count-mode `rdf inspect` output against golden reports.

``tests/fixtures/inspect/goldens.json`` maps each stream (a path under
``tests/fixtures``) to the exact YAML text count-mode inspect printed
for it under six flag sets, captured from the decode-based counter
before inspect moved onto the wire walk. The streams are every encoder
fixture plus four hand-built ones in ``tests/fixtures/inspect``:

- ``elision.jelly``: repeated-term elision (fewer explicit terms than
  statements), the stream of ``test_jelly_v2::test_wire_term_detail_elision``;
- ``rdfstar.jelly``: nested quoted triples in subject and object
  position, written by ``rdf to-jelly --rows-per-frame 4``;
- ``graphs.jelly``: a GRAPHS stream with graph start/end rows around IRI,
  default-graph and blank-node graphs, and an elided subject/predicate;
- ``metadata.jelly``: a version-2 QUADS stream with v1.1 frame metadata
  on two of its three frames, a namespace row and elided terms.

None of them has an empty frame: count mode lists those now, the old
counter dropped them (``test_cli::test_cli_inspect_empty_frames``).
"""

from __future__ import annotations

import json
import os

import pytest

from cli_spark.__main__ import main

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
with open(os.path.join(FIXTURES, "inspect", "goldens.json")) as _fh:
    GOLDENS = json.load(_fh)

MODES = {
    "aggregate": [],
    "per_frame": ["--per-frame"],
    "detail_all": ["--detail", "all"],
    "detail_node": ["--detail", "node"],
    "detail_term": ["--detail", "term"],
    "per_frame_detail_node": ["--per-frame", "--detail", "node"],
}


@pytest.mark.parametrize("stream", sorted(GOLDENS))
def test_inspect_count_matches_golden(spark, tmp_path, stream):
    want = GOLDENS[stream]
    assert set(want) == set(MODES)
    rpt = str(tmp_path / "report.yaml")
    for mode, flags in MODES.items():
        args = ["rdf", "inspect", os.path.join(FIXTURES, stream), *flags]
        assert main([*args, "--to", rpt]) == 0, mode
        with open(rpt) as fh:
            assert fh.read() == want[mode], mode
