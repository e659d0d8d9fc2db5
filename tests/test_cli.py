"""CLI command parity (App.scala:24-31): to-jelly / from-jelly /
inspect / validate / transcode / version through the argv entry point."""

from __future__ import annotations

import os

import pytest

from cli_spark.__main__ import _parse_range, main


def test_parse_range_grammar():
    big = 1 << 62
    assert _parse_range("3") == (3, 3)
    assert _parse_range("..3") == (0, 2)
    assert _parse_range("3..") == (3, big)
    assert _parse_range("1..5") == (1, 4)
    assert _parse_range("1..=5") == (1, 5)
    # IndexRange.scala:31-33 — empty/whitespace spec is the whole range,
    # '..=' is open-ended from 0, surrounding whitespace is trimmed
    assert _parse_range("") == (0, big)
    assert _parse_range("  ") == (0, big)
    assert _parse_range("..=") == (0, big)
    assert _parse_range(" 2..4 ") == (2, 3)
    with pytest.raises(ValueError):
        _parse_range("5..=1")


def test_version(capsys):
    # VersionSpec: all three aliases print the tool + stack versions
    # and the [X]/[ ] feature-support report
    for alias in ("version", "v", "--version"):
        assert main([alias]) == 0
        out = capsys.readouterr().out
        assert out.startswith("cli_spark")
        assert "PySpark" in out and "PyArrow" in out
        assert "[X] Arrow-vectorized codecs" in out
        assert "Apache License" in out


@pytest.fixture(scope="module")
def nq_file(spark, tmp_path_factory):
    from cli_spark.nquads import write_nquads
    from cli_spark.queries import doc_triples

    d = tmp_path_factory.mktemp("cli")
    t = doc_triples(spark, os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001").limit(500)
    write_nquads(t, str(d / "in_nq"), single_file=True)
    part = next(p for p in os.listdir(d / "in_nq") if p.startswith("part-"))
    return str(d / "in_nq" / part)


def test_cli_end_to_end(spark, nq_file, tmp_path):
    """to-jelly → validate (vs source) → from-jelly → line-set equality.
    main() opens its own session via getOrCreate — shares the fixture's."""
    jelly = str(tmp_path / "s.jelly")
    assert main(["rdf", "to-jelly", nq_file, "--to", jelly, "--rows-per-frame", "64"]) == 0
    assert os.path.getsize(jelly) > 0
    assert main(["rdf", "validate", jelly, "--compare-to-rdf-file", nq_file]) == 0
    out_dir = str(tmp_path / "back")
    assert main(["rdf", "from-jelly", jelly, "--to", out_dir, "--single-file"]) == 0
    part = next(p for p in os.listdir(out_dir) if p.startswith("part-"))
    with open(nq_file) as fh:
        orig = set(fh.read().splitlines())
    with open(os.path.join(out_dir, part)) as fh:
        back = set(fh.read().splitlines())
    assert orig == back


def test_cli_validate_detects_mismatch(spark, nq_file, tmp_path):
    jelly = str(tmp_path / "s.jelly")
    main(["rdf", "to-jelly", nq_file, "--to", jelly])
    short = str(tmp_path / "short.nq")
    with open(nq_file) as fh:
        lines = fh.read().splitlines()
    with open(short, "w") as fh:
        fh.write("\n".join(lines[:-5]) + "\n")
    assert main(["rdf", "validate", jelly, "--compare-to-rdf-file", short]) == 1
    assert main(["rdf", "validate", jelly, "--delimited", "false"]) == 1
    assert main(["rdf", "validate", jelly, "--delimited", "true"]) == 0


def test_cli_validate_rereads_overwritten_stream(spark, nq_file, tmp_path):
    """Two validates of one path in one session: the second must check
    the stream now at that path, not rows decoded by the first."""
    jelly = str(tmp_path / "s.jelly")
    assert main(["rdf", "to-jelly", nq_file, "--to", jelly]) == 0
    assert main(["rdf", "validate", jelly, "--compare-to-rdf-file", nq_file]) == 0
    other = str(tmp_path / "other.nq")
    with open(nq_file) as fh:
        lines = fh.read().splitlines()
    with open(other, "w") as fh:
        fh.write("\n".join(lines[5:]) + "\n")
    assert main(["rdf", "to-jelly", other, "--to", jelly]) == 0
    assert main(["rdf", "validate", jelly, "--compare-to-rdf-file", nq_file]) == 1


def test_cli_validate_frame_indices(spark, nq_file, tmp_path):
    """--compare-frame-indices restricts the comparison to a frame
    slice while the skipped frames still feed decoder state — mirrors
    RdfValidateSpec 'content matches the reference RDF file, using a
    slice of the stream' (frame index non-zero, decoder state built by
    frame 0) and the 'does not match, using slices' failure case."""
    jelly = str(tmp_path / "s.jelly")
    assert main(["rdf", "to-jelly", nq_file, "--to", jelly, "--rows-per-frame", "64"]) == 0
    # expected slice = frames 1..=2, produced by the (oracle-tested)
    # from-jelly --take-frames path
    slice_dir = str(tmp_path / "slice")
    assert main([
        "rdf", "from-jelly", jelly, "--to", slice_dir,
        "--take-frames", "1..=2", "--single-file",
    ]) == 0
    import shutil

    part = next(p for p in os.listdir(slice_dir) if p.startswith("part-"))
    slice_nq = str(tmp_path / "slice.nq")
    shutil.copyfile(os.path.join(slice_dir, part), slice_nq)
    # unordered + ordered: slice compares equal only within the range
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", slice_nq,
        "--compare-frame-indices", "1..=2",
    ]) == 0
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", slice_nq,
        "--compare-ordered", "--compare-frame-indices", "1..=2",
    ]) == 0
    # wrong range against the same expected slice → mismatch, exit 1
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", slice_nq,
        "--compare-frame-indices", "1..4",
    ]) == 1
    # full-file comparison against a slice of the stream → mismatch
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", nq_file,
        "--compare-frame-indices", "1..=2",
    ]) == 1


def test_cli_validate_compare_to_format(spark, nq_file, tmp_path):
    """--compare-to-format beats extension inference (RdfValidate.scala:
    239-249); an unrecognized name is a typed exit-1 error like the
    reference's InvalidFormatSpecified."""
    import shutil

    jelly = str(tmp_path / "s.jelly")
    assert main(["rdf", "to-jelly", nq_file, "--to", jelly]) == 0
    # same bytes under an uninferrable extension: without the explicit
    # format the repo's unknown-extension fallback (generalized N-Quads,
    # same as the to-jelly input path) still reads it; the explicit
    # format also wins over the fallback
    opaque = str(tmp_path / "expected.txt")
    shutil.copyfile(nq_file, opaque)
    assert main(["rdf", "validate", jelly, "--compare-to-rdf-file", opaque]) == 0
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", opaque,
        "--compare-to-format", "nt",
    ]) == 0
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", opaque,
        "--compare-to-format", "invalid",
    ]) == 1


def test_cli_validate_compares_quads(spark, tmp_path):
    """Validate comparison is full-dataset (RdfValidate.scala:173-181):
    a quads stream compares the graph position too, so two datasets with
    identical triples but different graph labels are a mismatch — in
    both unordered and ordered modes."""
    nq = str(tmp_path / "in.nq")
    nq_other = str(tmp_path / "other.nq")
    lines = [
        '<http://x/s> <http://x/p> "v" <http://g/1> .',
        '<http://x/s> <http://x/p> "w" .',
        '<http://x/t> <http://x/p> <http://x/o> <http://g/2> .',
    ]
    with open(nq, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(nq_other, "w") as fh:
        fh.write("\n".join(lines).replace("<http://g/2>", "<http://g/3>") + "\n")
    jelly = str(tmp_path / "q.jelly")
    assert main(["rdf", "to-jelly", nq, "--to", jelly]) == 0
    assert main(["rdf", "validate", jelly, "--compare-to-rdf-file", nq]) == 0
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", nq,
        "--compare-ordered",
    ]) == 0
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", nq_other,
    ]) == 1
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", nq_other,
        "--compare-ordered",
    ]) == 1


def test_cli_validate_options_file(spark, nq_file, tmp_path):
    """--options-file: the input's options row must equal the expected
    stream's exactly (RdfValidate.scala:118-134) — same options pass,
    any field difference (stream name here) is exit 1 with both options
    printed."""
    a = str(tmp_path / "a.jelly")
    b = str(tmp_path / "b.jelly")
    c = str(tmp_path / "c.jelly")
    assert main(["rdf", "to-jelly", nq_file, "--to", a]) == 0
    assert main(["rdf", "to-jelly", nq_file, "--to", b]) == 0
    assert main([
        "rdf", "to-jelly", nq_file, "--to", c, "--stream-name", "other",
    ]) == 0
    assert main(["rdf", "validate", a, "--options-file", b]) == 0
    assert main(["rdf", "validate", a, "--options-file", c]) == 1


def _hand_built_stream(path, *substreams):
    """A delimited Jelly file of one frame per sub-stream, each an
    options row (defaults overridden by the given fields), two name
    entries and one triple."""
    from cli_spark import jellywire as JW

    def frame(opts):
        return JW.encode_frame([
            {"kind": JW.K_OPTIONS, "physical": 1, "version": 1,
             "max_name": 16, "max_prefix": 8, "max_dt": 8, **opts},
            {"kind": JW.K_NAME, "id": 0, "value": "http://e/s"},
            {"kind": JW.K_NAME, "id": 0, "value": "http://e/p"},
            {"kind": JW.K_TRIPLE, "s": {"k": 0, "nid": 1},
             "p": {"k": 0, "nid": 2}, "o": {"k": 2, "v": "v"}},
        ])

    with open(path, "wb") as fh:
        fh.write(JW.write_delimited(frame(o) for o in substreams))
    return str(path)


@pytest.mark.parametrize("substreams, line", [
    ([{"logical": 2}], "logical type FLAT_QUADS is incompatible with physical type 1"),
    ([{"max_name": 4}], "name table size 4 below the minimum of 8"),
    ([{}, {"max_name": 32}], "options changed mid-stream (later options rows "
                             "must equal the first — RdfValidate.scala:192-195)"),
    ([{"physical": 9}], "unknown physical stream type 9"),
], ids=["flat_quads_over_triples", "small_name_table", "changed_mid_stream", "physical_9"])
def test_cli_validate_rejects_bad_options(spark, tmp_path, capsys, substreams, line):
    """`rdf validate` checks every options row (RdfValidate.scala:118-143,
    192-195): version, physical and logical type and their
    compatibility, the minimum name table size, and that later options
    rows equal the first. The same stream with sane options is valid."""
    ok = _hand_built_stream(tmp_path / "ok.jelly", *([{}] * len(substreams)))
    assert main(["rdf", "validate", ok]) == 0
    capsys.readouterr()
    bad = _hand_built_stream(tmp_path / "bad.jelly", *substreams)
    assert main(["rdf", "validate", bad]) == 1
    assert capsys.readouterr().err.splitlines() == [f"error: {line}"]


def test_cli_common_flags(spark, nq_file, tmp_path, capsys):
    """--quiet silences the P11 type-clash warning; --debug prints the
    traceback before the error line; --max-datatype-table reaches the
    options row; transcode --stream-name names the merged stream
    (JellyCommand.scala:9-12, opt.* overrides)."""
    from cli_spark import jelly as J

    jelly = str(tmp_path / "s.jelly")
    # flatQuads logical type over a triples-physical stream: warned
    # unless --quiet (LOGICAL_COMPAT maps flatQuads to QUADS/GRAPHS)
    assert main([
        "rdf", "to-jelly", nq_file, "--to", jelly,
        "--logical-type", "flatQuads",
    ]) == 0
    assert "warning" in capsys.readouterr().err
    assert main([
        "--quiet", "rdf", "to-jelly", nq_file, "--to", jelly,
        "--logical-type", "flatQuads",
    ]) == 0
    assert "warning" not in capsys.readouterr().err
    # --max-datatype-table lands in the stream options
    dt = str(tmp_path / "dt.jelly")
    assert main([
        "rdf", "to-jelly", nq_file, "--to", dt, "--max-datatype-table", "64",
    ]) == 0
    assert J.options_from_file(dt).max_dt_table == 64
    # --debug: traceback precedes the error line (on a raising path; the
    # stream has no type clash, so validation reaches the bogus format)
    assert main([
        "--debug", "rdf", "validate", dt,
        "--compare-to-rdf-file", nq_file, "--compare-to-format", "bogus",
    ]) == 1
    err = capsys.readouterr().err
    assert "Traceback" in err and "error:" in err
    # transcode --stream-name names the merged output stream
    tr = str(tmp_path / "merged.jelly")
    assert main([
        "rdf", "transcode", jelly, "--to", tr, "--stream-name", "merged",
    ]) == 0
    assert J.options_from_file(tr).stream_name == "merged"


def test_cli_resolve_iris_and_transcode_logical(spark, tmp_path):
    """--resolve-iris false passes relative IRIs through as written
    (RdfPerformanceOptions.scala:7-14); transcode --logical-type
    declares the merged stream's logical type (opt.logicalType)."""
    from cli_spark import jelly as J

    ttl = str(tmp_path / "rel.ttl")
    with open(ttl, "w") as fh:
        fh.write(
            "@base <http://b.org/> .\n@prefix v: <vocab#> .\n"
            "<rel> v:p <other> .\n"
        )
    jelly = str(tmp_path / "rel.jelly")
    assert main([
        "rdf", "to-jelly", ttl, "--to", jelly, "--resolve-iris", "false",
    ]) == 0
    out = str(tmp_path / "back")
    assert main([
        "rdf", "from-jelly", jelly, "--to", out, "--single-file",
        "--out-format", "nt",
    ]) == 0
    part = next(p for p in os.listdir(out) if p.startswith("part-"))
    with open(os.path.join(out, part)) as fh:
        text = fh.read()
    assert "<rel> <vocab#p> <other> ." in text
    # default (true) resolves
    jelly2 = str(tmp_path / "abs.jelly")
    assert main(["rdf", "to-jelly", ttl, "--to", jelly2]) == 0
    # non-Turtle input is a typed error
    nq = str(tmp_path / "x.nq")
    with open(nq, "w") as fh:
        fh.write("<http://e/s> <http://e/p> <http://e/o> .\n")
    assert main([
        "rdf", "to-jelly", nq, "--to", str(tmp_path / "y.jelly"),
        "--resolve-iris", "false",
    ]) == 1
    # transcode --logical-type
    tr = str(tmp_path / "merged.jelly")
    assert main([
        "rdf", "transcode", jelly2, "--to", tr,
        "--logical-type", "flatTriples",
    ]) == 0
    assert J.options_from_file(tr).logical_type == J.LOGICAL_FLAT_TRIPLES


def test_cli_inspect_detail(spark, tmp_path, capsys):
    """inspect --detail node|term|all (RdfInspect.scala:30-35): node-kind
    counts over explicitly-encoded wire terms in the reference's three
    report shapes; --size with --detail is a typed error; --to writes
    the report to a file. This repo's own encoder writes every term
    explicitly (frame-parallel decodability), so explicit counts equal
    logical counts here; the elided-wire case is covered by
    test_jelly_v2::test_wire_term_detail_elision."""
    nq = str(tmp_path / "in.nq")
    with open(nq, "w") as fh:
        fh.write(
            '<http://e/s1> <http://e/p> "a" .\n'
            '<http://e/s1> <http://e/p> "b" .\n'
            '<http://e/s2> <http://e/p> <http://e/o> .\n'
        )
    jelly = str(tmp_path / "d.jelly")
    assert main(["rdf", "to-jelly", nq, "--to", jelly]) == 0
    assert main(["rdf", "inspect", jelly, "--detail", "term"]) == 0
    out = capsys.readouterr().out
    assert "term_details:" in out
    assert "subject_count: 3" in out
    assert "predicate_count: 3" in out
    assert "object_count: 3" in out
    assert main(["rdf", "inspect", jelly, "--detail", "node"]) == 0
    out = capsys.readouterr().out
    assert "node_details:" in out and "literal_count: 2" in out
    rpt = str(tmp_path / "report.yaml")
    assert main(["rdf", "inspect", jelly, "--detail", "all", "--to", rpt]) == 0
    with open(rpt) as fh:
        text = fh.read()
    assert "subject:" in text and "iri_count: 3" in text
    # --detail composes with --size since round 5 (exact per-term wire
    # sizes via the jellywire tag-walk, like the reference's
    # SizeStatistic) — see test_cli_inspect_detail_sizes
    assert main(["rdf", "inspect", jelly, "--detail", "all", "--size"]) == 0


def test_cli_namespace_declarations(spark, tmp_path):
    """--enable-namespace-declarations (RdfToJelly.scala:57-61): the
    Turtle input's PREFIX declarations ride the stream as namespace
    rows and come back as the @prefix header on a Turtle sink
    (RdfFromJelly.scala:133-140); non-Turtle input is a typed error."""
    ttl = str(tmp_path / "in.ttl")
    with open(ttl, "w") as fh:
        fh.write(
            "@prefix ex: <http://example.org/> .\n"
            "@prefix v: <http://vocab.org/ns#> .\n"
            "ex:a v:p ex:b .\n"
        )
    jelly = str(tmp_path / "ns.jelly")
    assert main([
        "rdf", "to-jelly", ttl, "--to", jelly,
        "--enable-namespace-declarations",
    ]) == 0
    out = str(tmp_path / "back")
    assert main([
        "rdf", "from-jelly", jelly, "--to", out, "--single-file",
        "--out-format", "ttl",
    ]) == 0
    part = next(p for p in os.listdir(out) if p.startswith("part-"))
    with open(os.path.join(out, part)) as fh:
        text = fh.read()
    assert "@prefix ex: <http://example.org/> ." in text
    assert "@prefix v: <http://vocab.org/ns#> ." in text
    assert "ex:a v:p ex:b ." in text
    # namespace forwarding needs a document syntax that declares them
    nq = str(tmp_path / "in.nq")
    with open(nq, "w") as fh:
        fh.write("<http://e/s> <http://e/p> <http://e/o> .\n")
    assert main([
        "rdf", "to-jelly", nq, "--to", str(tmp_path / "x.jelly"),
        "--enable-namespace-declarations",
    ]) == 1


def test_cli_jsonld_context_flag(spark, tmp_path):
    """--jsonld-context FILE switches the JSON-LD sink to
    compact-on-write; the flag with a non-JSON-LD output is a typed
    exit-1 rejection."""
    import json

    src = tmp_path / "in.nq"
    src.write_text('<http://e/s> <http://e/p> <http://e/o> .\n')
    jelly = str(tmp_path / "s.jelly")
    assert main(["rdf", "to-jelly", str(src), "--to", jelly]) == 0
    ctx = tmp_path / "ctx.json"
    ctx.write_text(json.dumps({"ex": "http://e/"}))
    out = str(tmp_path / "out.jsonld")
    # --combine: the flat NDJSON form (one node object per line)
    assert main([
        "rdf", "from-jelly", jelly, "--to", out, "--jsonld-context", str(ctx),
        "--combine",
    ]) == 0
    part = next(p for p in os.listdir(out) if p.startswith("part-"))
    line = open(os.path.join(out, part)).read().strip()
    assert line.startswith('{"@context":{"ex":"http://e/"}')
    assert '"ex:p"' in line and '"@id":"ex:s"' in line
    # default (per-frame documents): same compacted node, wrapped in
    # the frame's [...] array document
    out2 = str(tmp_path / "out2.jsonld")
    assert main([
        "rdf", "from-jelly", jelly, "--to", out2, "--jsonld-context", str(ctx),
    ]) == 0
    part2 = next(p for p in os.listdir(out2) if p.startswith("part-"))
    doc = json.loads(open(os.path.join(out2, part2)).read())
    assert len(doc) == 1 and doc[0]["@context"] == {"ex": "http://e/"}
    assert doc[0]["@id"] == "ex:s"
    assert main([
        "rdf", "from-jelly", jelly, "--to", str(tmp_path / "o.nq"),
        "--jsonld-context", str(ctx),
    ]) == 1


def test_cli_quads_to_triples_sink_guard(spark, tmp_path):
    """P4 through the CLI: a QUADS .jelly decoded into a triples-only
    output errors (exit 1, frames-level tag-peek guard) unless
    --merge-graphs drops the graph names."""
    src = str(tmp_path / "g.nq")
    with open(src, "w") as fh:
        fh.write('<kg:s1> <kg:p> "a" <kg:g1> .\n')
        fh.write('<kg:s2> <kg:p> "b" <kg:g2> .\n')
        fh.write('<kg:s3> <kg:p> "c" .\n')
    jelly = str(tmp_path / "g.jelly")
    assert main(["rdf", "to-jelly", src, "--to", jelly]) == 0
    # triples-only sink: refused
    assert main(["rdf", "from-jelly", jelly, "--to", str(tmp_path / "out.nt")]) == 1
    # --merge-graphs: graphs dropped, accepted
    out = str(tmp_path / "merged.nt")
    assert main(
        ["rdf", "from-jelly", jelly, "--to", out, "--merge-graphs", "--single-file"]
    ) == 0
    import os as _os

    part = next(p for p in _os.listdir(out) if p.startswith("part-"))
    with open(_os.path.join(out, part)) as fh:
        lines = set(fh.read().splitlines())
    assert lines == {
        '<kg:s1> <kg:p> "a" .',
        '<kg:s2> <kg:p> "b" .',
        '<kg:s3> <kg:p> "c" .',
    }


def test_cli_validate_terms(spark, tmp_path, capsys):
    """--validate-terms (RdfPerformanceOptions.scala:15-18): eager term
    validation is off by default for to-jelly/from-jelly, ON by default
    for validate (RdfValidate.scala:95). Lexical-form, IRI, and langtag
    failures all raise the typed exit-1 error."""
    bad = str(tmp_path / "bad.nq")
    with open(bad, "w") as fh:
        fh.write(
            '<http://x/s> <http://x/p> '
            '"4x2"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
            '<http://x/s> <http://x/p> "ok" .\n'
        )
    good = str(tmp_path / "good.nq")
    with open(good, "w") as fh:
        fh.write(
            '<http://x/s> <http://x/p> '
            '"42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
            '<http://x/s> <http://x/p> "hi"@en-US .\n'
        )
    jelly_bad = str(tmp_path / "bad.jelly")
    jelly_good = str(tmp_path / "good.jelly")
    # default off: the bad literal passes through, like the reference's
    # disabled eager validation
    assert main(["rdf", "to-jelly", bad, "--to", jelly_bad]) == 0
    assert main([
        "rdf", "to-jelly", bad, "--to", str(tmp_path / "x.jelly"),
        "--validate-terms", "true",
    ]) == 1
    assert "invalid lexical form" in capsys.readouterr().err
    assert main([
        "rdf", "to-jelly", good, "--to", jelly_good,
        "--validate-terms", "true",
    ]) == 0
    # validate: term checks default ON — bad stream fails, and
    # --validate-terms false restores the fast path
    assert main(["rdf", "validate", jelly_bad]) == 1
    assert "term validation" in capsys.readouterr().err
    assert main(["rdf", "validate", jelly_bad, "--validate-terms", "false"]) == 0
    assert main(["rdf", "validate", jelly_good]) == 0
    # from-jelly: off by default, opt-in catches the decoded bad term
    out = str(tmp_path / "out_nq")
    assert main(["rdf", "from-jelly", jelly_bad, "--to", out]) == 0
    assert main([
        "rdf", "from-jelly", jelly_bad, "--to", str(tmp_path / "out2_nq"),
        "--validate-terms", "true",
    ]) == 1


def test_cli_combine_per_frame(spark, tmp_path):
    """from-jelly batch formats write one document PER FRAME by default;
    --combine merges them into one (RdfFromJelly.scala:59-63,106-118)."""
    nq = str(tmp_path / "in.nq")
    with open(nq, "w") as fh:
        for i in range(6):
            fh.write(f'<http://x/s{i}> <http://x/p> "v{i}" .\n')
    jelly = str(tmp_path / "f.jelly")
    assert main([
        "rdf", "to-jelly", nq, "--to", jelly, "--rows-per-frame", "2",
    ]) == 0  # 6 triples / 2 per frame = 3 frames

    def _text(d):
        parts = sorted(
            p for p in os.listdir(d) if p.startswith("part-")
        )
        return "\n".join(
            open(os.path.join(d, p)).read() for p in parts
        )

    # RDF/XML: three complete documents concatenated, frame order
    x_dir = str(tmp_path / "x_xml")
    assert main([
        "rdf", "from-jelly", jelly, "--to", x_dir, "--out-format", "rdfxml",
    ]) == 0
    xml = _text(x_dir)
    assert xml.count("<?xml") == 3 and xml.count("</rdf:RDF>") == 3
    assert xml.index("s0") < xml.index("s2") < xml.index("s4")
    # --combine: one document
    c_dir = str(tmp_path / "c_xml")
    assert main([
        "rdf", "from-jelly", jelly, "--to", c_dir, "--out-format", "rdfxml",
        "--combine", "--single-file",
    ]) == 0
    cxml = _text(c_dir)
    assert cxml.count("<?xml") == 1 and cxml.count("</rdf:RDF>") == 1
    # JSON-LD: three [ ... ] array documents, all valid JSON
    j_dir = str(tmp_path / "x_jsonld")
    assert main([
        "rdf", "from-jelly", jelly, "--to", j_dir, "--out-format", "jsonld",
    ]) == 0
    jtxt = _text(j_dir)
    jlines = jtxt.splitlines()
    assert jlines.count("[") == 3 and jlines.count("]") == 3
    import json as _json

    docs, buf = [], []
    for ln in jtxt.splitlines():
        buf.append(ln)
        if ln == "]":
            docs.append(_json.loads("\n".join(buf)))
            buf = []
    assert len(docs) == 3 and all(len(d) == 2 for d in docs)
    # --take-frames composes: only frame 1's document remains
    t_dir = str(tmp_path / "t_xml")
    assert main([
        "rdf", "from-jelly", jelly, "--to", t_dir, "--out-format", "rdfxml",
        "--take-frames", "1",
    ]) == 0
    txml = _text(t_dir)
    assert txml.count("<?xml") == 1 and "s2" in txml and "s0" not in txml


def _feed_stdin(monkeypatch, data: bytes):
    import io
    import sys as _sys
    import types

    monkeypatch.setattr(
        _sys, "stdin", types.SimpleNamespace(buffer=io.BytesIO(data))
    )


def test_cli_stdin_stdout_pipe(spark, monkeypatch, capsysbinary):
    # reference contract (RdfToJelly.scala HelpMessage): no input file
    # = stdin, no output file = stdout — the jelly-cli pipe workflow
    nq = b'<kg:s> <kg:p> "v" .\n<kg:s> <kg:p2> <kg:o> .\n'
    _feed_stdin(monkeypatch, nq)
    assert main(["rdf", "to-jelly"]) == 0
    jelly = capsysbinary.readouterr().out
    assert jelly and jelly[0] != ord("<")  # binary frames, not echoed text

    _feed_stdin(monkeypatch, jelly)
    assert main(["rdf", "from-jelly"]) == 0
    back = capsysbinary.readouterr().out.decode()
    assert '<kg:s> <kg:p> "v" .' in back and "<kg:o>" in back

    # inspect and validate read the same staged-stdin path
    _feed_stdin(monkeypatch, jelly)
    assert main(["rdf", "inspect"]) == 0
    assert "triple_count: 2" in capsysbinary.readouterr().out.decode()
    _feed_stdin(monkeypatch, jelly)
    assert main(["rdf", "validate"]) == 0
    capsysbinary.readouterr()  # drain validate's text before binary out

    # transcode: stdin jelly -> stdout jelly, decodable
    _feed_stdin(monkeypatch, jelly)
    assert main(["rdf", "transcode"]) == 0
    tr = capsysbinary.readouterr().out
    _feed_stdin(monkeypatch, tr)
    assert main(["rdf", "from-jelly", "--out-format", "nt"]) == 0
    assert '<kg:s> <kg:p> "v" .' in capsysbinary.readouterr().out.decode()


def test_cli_stdin_dash_and_informat(spark, monkeypatch, capsysbinary, tmp_path):
    # '-' is an explicit stdin marker; --in-format overrides the N-Quads
    # default for piped input
    ttl = b"@prefix ex: <http://ex.org/> . ex:s ex:p ex:o .\n"
    _feed_stdin(monkeypatch, ttl)
    out = tmp_path / "t.jelly"
    assert main(["rdf", "to-jelly", "-", "--in-format", "ttl", "--to", str(out)]) == 0
    capsysbinary.readouterr()
    assert main(["rdf", "from-jelly", str(out)]) == 0
    assert "<http://ex.org/s>" in capsysbinary.readouterr().out.decode()


def test_cli_completions(capsys):
    """completions bash/zsh (App.scala:18-20): generated from the live
    argparse tree, and functional — simulated COMP_WORDS completes
    subcommands and per-command flags."""
    import subprocess

    assert main(["completions", "bash"]) == 0
    script = capsys.readouterr().out
    assert "to-jelly" in script and "--compare-frame-indices" in script
    assert main(["completions", "zsh"]) == 0
    assert "bashcompinit" in capsys.readouterr().out

    def complete(words: list[str], cword: int) -> set[str]:
        cmd = (
            script
            + f"\nCOMP_WORDS=({' '.join(words)}); COMP_CWORD={cword};"
            + ' _cli_spark; printf "%s\\n" "${COMPREPLY[@]}"'
        )
        out = subprocess.run(
            ["bash", "-c", cmd], capture_output=True, text=True, check=True
        ).stdout
        return {w for w in out.split() if w}

    assert "rdf" in complete(["cli_spark", ""], 1)
    assert complete(["cli_spark", "rdf", "to-"], 2) == {"to-jelly"}
    assert "--take-frames" in complete(["cli_spark", "rdf", "from-jelly", "--ta"], 3)
    assert "--compare-ordered" in complete(
        ["cli_spark", "rdf", "validate", "--compare-o"], 3
    )


def test_cli_reference_option_spellings(spark, tmp_path):
    """The reference's exact option spellings work verbatim
    (RdfToJellySpec: --opt.physical-type=GRAPHS, --opt.stream-name,
    --opt.max-*-table-size, --opt.rdf-star=false, --delimited=false;
    RdfValidateSpec: --compare-ordered=true) — a switching user's
    scripts run unchanged."""
    from cli_spark import jelly as J
    from cli_spark import jellywire as JW

    nq = str(tmp_path / "in.nq")
    with open(nq, "w") as fh:
        fh.write('<kg:s> <kg:p> "v" .\n<kg:s2> <kg:p> <kg:o> <kg:g> .\n')
    jelly = str(tmp_path / "o.jelly")
    assert main([
        "rdf", "to-jelly", nq, "--to", jelly,
        "--opt.physical-type=QUADS",
        "--opt.logical-type=FLAT_QUADS",
        "--opt.stream-name=testName",
        "--opt.generalized-statements=false",
        "--opt.rdf-star=false",
        "--opt.max-name-table-size=100",
        "--opt.max-prefix-table-size=120",
        "--opt.max-datatype-table-size=64",
    ]) == 0
    data = open(jelly, "rb").read()
    n, pos = JW.read_varint(data, 0)
    opts = JW.decode_frame(data[pos:pos + n])[0]
    assert opts["stream_name"] == "testName"
    assert opts["physical"] == 2 and opts["logical"] == 2
    assert not opts["generalized"] and not opts["rdf_star"]
    assert (opts["max_name"], opts["max_prefix"], opts["max_dt"]) == (100, 120, 64)

    # --delimited=false == --non-delimited (single undelimited frame)
    nd = str(tmp_path / "nd.jelly")
    assert main(["rdf", "to-jelly", nq, "--to", nd, "--delimited=false"]) == 0
    assert main(["rdf", "validate", nd, "--delimited", "false"]) == 0
    assert main(["rdf", "validate", nd, "--delimited", "true"]) == 1
    # options-from-file reads a non-delimited file as its one frame
    with open(nd, "rb") as fh:
        want = JW.decode_frame(fh.read())[0]
    assert J.options_from_file(nd).physical_type == want["physical"] == J.PHYSICAL_QUADS

    # --compare-ordered=true spelling on validate
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", nq,
        "--compare-ordered=true",
    ]) == 0

    # transcode --opt.* aliases; an undersized prefix table is the
    # same typed error as the name table (RdfTranscodeSpec.scala:86)
    tr = str(tmp_path / "t.jelly")
    assert main([
        "rdf", "transcode", jelly, "--to", tr,
        "--opt.max-name-table-size=200", "--opt.max-prefix-table-size=150",
        "--opt.stream-name=merged",
    ]) == 0
    n, pos = JW.read_varint(open(tr, "rb").read(), 0)
    topts = JW.decode_frame(open(tr, "rb").read()[pos:pos + n])[0]
    assert topts["stream_name"] == "merged"
    assert topts["max_name"] == 200 and topts["max_prefix"] == 150
    multi = str(tmp_path / "multi.nq")
    with open(multi, "w") as fh:
        fh.write(
            '<http://a.example/x> <http://a.example/p> "1" .\n'
            '<http://b.example/y> <http://b.example/q> "2" .\n'
        )
    mj = str(tmp_path / "m.jelly")
    assert main(["rdf", "to-jelly", multi, "--to", mj]) == 0
    assert main([
        "rdf", "transcode", mj, "--to", tr,
        "--opt.max-prefix-table-size=1",
    ]) == 1


def test_cli_logical_type_spellings(spark, tmp_path):
    """--opt.logical-type accepts enum names, camel names, and IRIs
    (RdfToJellySpec 'modified logical type with full IRI')."""
    from cli_spark import jellywire as JW

    nq = str(tmp_path / "in.nq")
    with open(nq, "w") as fh:
        fh.write('<kg:s> <kg:p> "v" .\n')
    for spelling, code in [
        ("FLAT_TRIPLES", 1),
        ("flatTriples", 1),
        ("flatTriplesStream", 1),
        ("https://w3id.org/stax/ontology#flatTripleStream", 1),
        ("GRAPHS", 3),
    ]:
        out = str(tmp_path / "l.jelly")
        assert main([
            "rdf", "to-jelly", nq, "--to", out,
            f"--opt.logical-type={spelling}",
            # GROUPED logical types require an explicit physical type
            # (RdfToJelly.scala:159-166 ignores them otherwise)
            "--opt.physical-type=TRIPLES",
        ]) == 0, spelling
        data = open(out, "rb").read()
        n, pos = JW.read_varint(data, 0)
        assert JW.decode_frame(data[pos:pos + n])[0]["logical"] == code, spelling


def test_cli_error_paths_typed(spark, tmp_path, capsys):
    """RdfFromJellySpec error cases: missing input, invalid output
    format, invalid --take-frames — each a typed `error:` line + exit 1,
    no raw traceback leak. An explicit unknown --out-format must NOT
    silently fall back to N-Quads."""
    jelly = str(tmp_path / "e.jelly")
    nq = str(tmp_path / "e.nq")
    with open(nq, "w") as fh:
        fh.write('<kg:s> <kg:p> "v" .\n')
    assert main(["rdf", "to-jelly", nq, "--to", jelly]) == 0

    assert main(["rdf", "from-jelly", "/nonexistent.jelly",
                 "--to", str(tmp_path / "o.nq")]) == 1
    err = capsys.readouterr().err
    assert "error:" in err and "Traceback" not in err

    assert main(["rdf", "from-jelly", jelly, "--to", str(tmp_path / "o2.nq"),
                 "--out-format", "bogus"]) == 1
    assert "unknown format 'bogus'" in capsys.readouterr().err

    assert main(["rdf", "from-jelly", jelly, "--to", str(tmp_path / "o3.nq"),
                 "--take-frames", "abc"]) == 1
    assert "invalid range format" in capsys.readouterr().err

    # extensionless output dir withOUT an explicit format still falls
    # back to N-Quads parts (the S13 behavior this guard must preserve)
    out_dir = str(tmp_path / "parts_out")
    assert main(["rdf", "from-jelly", jelly, "--to", out_dir]) == 0


def test_cli_warnings(spark, tmp_path, capsys):
    """RdfToJelly warning contract: (a) a grouped logical type without
    an explicit physical type is IGNORED with a warning
    (RdfToJelly.scala:159-166); (b) jelly-text input warns that the
    format is unstable (RdfToJelly.scala:212-218); --quiet silences
    both."""
    from cli_spark import jellywire as JW

    nq = str(tmp_path / "w.nq")
    with open(nq, "w") as fh:
        fh.write('<kg:s> <kg:p> "v" .\n')
    out = str(tmp_path / "w.jelly")
    assert main([
        "rdf", "to-jelly", nq, "--to", out, "--opt.logical-type=GRAPHS",
    ]) == 0
    assert "Logical type setting ignored" in capsys.readouterr().err
    data = open(out, "rb").read()
    n, pos = JW.read_varint(data, 0)
    assert JW.decode_frame(data[pos:pos + n])[0]["logical"] == 0  # ignored
    assert main([
        "--quiet", "rdf", "to-jelly", nq, "--to", out,
        "--opt.logical-type=GRAPHS",
    ]) == 0
    assert "Logical type" not in capsys.readouterr().err

    # jelly-text instability warning on the to-jelly read path
    jt = str(tmp_path / "w.jelly.txt")
    assert main(["rdf", "from-jelly", out, "--to", jt]) == 0
    capsys.readouterr()
    out2 = str(tmp_path / "w2.jelly")
    assert main(["rdf", "to-jelly", jt, "--to", out2]) == 0
    assert "Jelly text format is not stable" in capsys.readouterr().err
    assert main(["--quiet", "rdf", "to-jelly", jt, "--to", out2]) == 0
    assert "not stable" not in capsys.readouterr().err
    # the text→binary frames copy round-trips to the original statement
    rt = str(tmp_path / "rt")
    assert main(["rdf", "from-jelly", out2, "--to", rt, "--single-file"]) == 0
    part = next(p for p in os.listdir(rt) if p.startswith("part-"))
    assert open(os.path.join(rt, part)).read().strip() == '<kg:s> <kg:p> "v" .'


def test_cli_inspect_frame_metadata(spark, tmp_path, capsys):
    """Frame metadata map (Jelly v1.1 frame field 15) prints per-frame,
    hex-valued, and is omitted when absent — mirrors RdfInspectSpec
    "print frame metadata in --per-frame" (key -> "1337ff") and
    MetricsPrinter.scala:329-338 (aggregate mode never prints it)."""
    from cli_spark import jellywire as JW

    opts_row = {
        "kind": JW.K_OPTIONS, "physical": 1, "logical": 1, "version": 1,
        "max_name": 8, "max_prefix": 8, "max_dt": 8,
    }
    frame = JW.encode_frame([opts_row], metadata=[("key", bytes.fromhex("1337ff"))])
    jelly = str(tmp_path / "meta.jelly")
    with open(jelly, "wb") as fh:
        fh.write(JW.write_delimited([frame]))

    assert main(["rdf", "inspect", jelly, "--per-frame"]) == 0
    out = capsys.readouterr().out
    assert "metadata:" in out
    assert "key: 1337ff" in out
    assert "frame_index: 0" in out
    # aggregate mode omits metadata (unbounded frames -> unbounded map)
    assert main(["rdf", "inspect", jelly]) == 0
    out = capsys.readouterr().out
    assert "metadata:" not in out
    # a stream with no metadata never grows the key
    nometa = str(tmp_path / "nometa.jelly")
    with open(nometa, "wb") as fh:
        fh.write(JW.write_delimited([JW.encode_frame([opts_row])]))
    assert main(["rdf", "inspect", nometa, "--per-frame"]) == 0
    assert "metadata:" not in capsys.readouterr().out


def test_cli_to_jelly_preserves_blank_node_ids(spark, tmp_path):
    """RdfToJellySpec "preserve the original blank node IDs": a parsed
    blank-node SUBJECT stores the bare label ("b1"), so the encode path
    must carry subj_kind through instead of re-inferring the kind from
    the value — the round 5 regression turned _:b1 into <b1>. Covers
    the TRIPLES select and the GRAPHS select (bnode graph label)."""
    nq = str(tmp_path / "bn.nq")
    with open(nq, "w") as fh:
        fh.write(
            "_:b1 <http://a.com/p> _:b2 .\n"
            "_:b1 <http://a.com/p> _:b3 .\n"
        )
    jelly = str(tmp_path / "bn.jelly")
    out = str(tmp_path / "bn_out")
    assert main(["rdf", "to-jelly", nq, "--to", jelly]) == 0
    assert main(["rdf", "from-jelly", jelly, "--to", out]) == 0
    lines = set()
    for root, _, files in os.walk(out):
        for f in files:
            if f.endswith(".txt"):
                lines |= set(open(os.path.join(root, f)).read().splitlines())
    assert lines == {
        "_:b1 <http://a.com/p> _:b2 .",
        "_:b1 <http://a.com/p> _:b3 .",
    }

    nq2 = str(tmp_path / "bng.nq")
    with open(nq2, "w") as fh:
        fh.write("_:b1 <http://a.com/p> _:b2 _:g1 .\n")
    jelly2 = str(tmp_path / "bng.jelly")
    out2 = str(tmp_path / "bng_out")
    assert main([
        "rdf", "to-jelly", nq2, "--to", jelly2, "--physical-type", "graphs",
    ]) == 0
    assert main(["rdf", "from-jelly", jelly2, "--to", out2]) == 0
    lines2 = set()
    for root, _, files in os.walk(out2):
        for f in files:
            if f.endswith(".txt"):
                lines2 |= set(open(os.path.join(root, f)).read().splitlines())
    assert lines2 == {"_:b1 <http://a.com/p> _:b2 _:g1 ."}


def test_cli_inspect_stream_options_block(spark, nq_file, tmp_path, capsys):
    """inspect always leads with the declared stream_options and keys
    its counts under `frames` in BOTH modes (MetricsPrinter.scala:
    printAggregate/printPerFrame; RdfInspectSpec asserts stream_options
    in nearly every case) — proto-named enums render `NAME (value)`,
    the empty stream name renders as "" (valid YAML), and the whole
    report parses with a standard YAML loader."""
    import yaml

    jelly = str(tmp_path / "s.jelly")
    assert main([
        "rdf", "to-jelly", nq_file, "--to", jelly, "--max-name-table", "64",
    ]) == 0
    assert main(["rdf", "inspect", jelly]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    so = doc["stream_options"]
    assert so["stream_name"] == ""
    assert so["physical_type"] == "PHYSICAL_STREAM_TYPE_TRIPLES (1)"
    assert so["max_name_table_size"] == 64
    assert so["generalized_statements"] is False and so["rdf_star"] is False
    assert so["version"] >= 1
    assert isinstance(doc["frames"], dict) and doc["frames"]["frame_count"] >= 1
    assert main(["rdf", "inspect", jelly, "--per-frame"]) == 0
    doc2 = yaml.safe_load(capsys.readouterr().out)
    assert doc2["stream_options"] == so
    assert isinstance(doc2["frames"], list)
    assert doc2["frames"][0]["frame_index"] == 0


def test_cli_inspect_detail_omits_zero_counts(spark, tmp_path, capsys):
    """--detail all/node omit zero counts and empty positions
    (NodeDetailInfo.format filters > 0; RdfInspectSpec asserts
    bnode_count is ABSENT on an iri/literal-only stream); term mode
    keeps all four totals."""
    import yaml

    nq = str(tmp_path / "in.nq")
    with open(nq, "w") as fh:
        fh.write('<http://e/s> <http://e/p> "lit" .\n')
    jelly = str(tmp_path / "z.jelly")
    assert main(["rdf", "to-jelly", nq, "--to", jelly]) == 0
    assert main(["rdf", "inspect", jelly, "--detail", "all"]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    assert doc["frames"]["subject"] == {"iri_count": 1}
    assert "bnode_count" not in doc["frames"]["subject"]
    assert "graph" not in doc["frames"]  # empty position omitted entirely
    assert main(["rdf", "inspect", jelly, "--detail", "node"]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    assert doc["frames"]["node_details"] == {"iri_count": 2, "literal_count": 1}
    assert main(["rdf", "inspect", jelly, "--detail", "term"]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    assert doc["frames"]["term_details"]["graph_count"] == 0  # term mode keeps zeros


def test_cli_inspect_full_counter_battery(spark, tmp_path, capsys):
    """inspect emits the reference's FULL 11-counter battery in
    FrameInfo.format order (frame/row/option/triple/quad/graph_start/
    graph_end/namespace/name/prefix/datatype), with the `_size` suffix
    under --size like the reference's SizeStatistic naming."""
    import yaml

    nq = str(tmp_path / "in.nq")
    with open(nq, "w") as fh:
        fh.write('<http://x/s> <http://x/p> "v" <http://g/1> .\n')
    jelly = str(tmp_path / "f.jelly")
    assert main(["rdf", "to-jelly", nq, "--to", jelly]) == 0
    assert main(["rdf", "inspect", jelly, "--per-frame"]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    f0 = doc["frames"][0]
    for key in ("frame_count", "row_count", "option_count", "triple_count",
                "quad_count", "graph_start_count", "graph_end_count",
                "namespace_count", "name_count", "prefix_count",
                "datatype_count"):
        assert key in f0, key
    assert f0["frame_count"] == 1 and f0["quad_count"] == 1
    assert f0["triple_count"] == 0
    assert main(["rdf", "inspect", jelly, "--size"]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    agg = doc["frames"]
    assert agg["frame_count"] >= 1 and agg["quad_size"] > 0
    assert agg["row_size"] >= agg["quad_size"]


def test_cli_inspect_detail_sizes(spark, tmp_path, capsys):
    """--size --detail: per-term sizes from the exact wire tag-walk
    (RdfInspectSpec "print detailed size statistics": iri_size present,
    bnode_size ABSENT on a bnode-free stream; message terms measure
    getSerializedSize, bnodes computeStringSizeNoTag). Verified against
    a hand-computed size on a one-triple stream."""
    import yaml

    from cli_spark import jellywire as JW

    nq = str(tmp_path / "in.nq")
    with open(nq, "w") as fh:
        fh.write('<http://e/s> <http://e/p> "hello" .\n')
    jelly = str(tmp_path / "sz.jelly")
    assert main(["rdf", "to-jelly", nq, "--to", jelly]) == 0
    assert main(["rdf", "inspect", jelly, "--size", "--detail", "all"]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    frames = doc["frames"]
    assert "bnode_size" not in frames["subject"]
    assert frames["subject"]["iri_size"] > 0
    # the object literal 'hello': RdfLiteral{lex="hello"} = tag(1) +
    # varint(5) + 5 bytes = 7 — exact wire size, not an approximation
    assert frames["object"]["literal_size"] == 7
    # cross-check one term against the raw wire walk
    with open(jelly, "rb") as fh:
        _, blobs = JW.split_delimited(fh.read())
    want = sum(
        s for p, k, s in JW.frame_term_sizes(blobs[0])
        if p == "object" and k == "literal"
    )
    assert frames["object"]["literal_size"] == want
    # per-frame variant carries the same maps
    assert main([
        "rdf", "inspect", jelly, "--size", "--detail", "term", "--per-frame",
    ]) == 0
    doc = yaml.safe_load(capsys.readouterr().out)
    assert doc["frames"][0]["term_details"]["object_size"] >= 7


def test_cli_error_handler_contract(spark, tmp_path, capsys):
    """ErrorHandlerSpec: known (typed) errors print the message plus a
    'Run with --debug' hint and no stack; --debug adds the stack;
    unknown errors ALWAYS print the stack ('otherwise the user has no
    clue what happened') and still exit 1 through cleanup."""
    missing = str(tmp_path / "nope.nq")
    assert main(["rdf", "to-jelly", missing, "--to", str(tmp_path / "o.jelly")]) == 1
    err = capsys.readouterr().err
    assert "error:" in err
    assert "Run with --debug to see the complete stack trace." in err
    assert "Traceback" not in err
    assert main([
        "--debug", "rdf", "to-jelly", missing, "--to", str(tmp_path / "o.jelly"),
    ]) == 1
    err = capsys.readouterr().err
    assert "Traceback" in err
    assert "Run with --debug" not in err

    import cli_spark.__main__ as M

    orig = M._dispatch
    M._dispatch = lambda spark, args: (_ for _ in ()).throw(RuntimeError("boom"))
    try:
        assert main(["rdf", "inspect", missing]) == 1
    finally:
        M._dispatch = orig
    err = capsys.readouterr().err
    assert "Unknown error" in err
    assert "Traceback" in err and "boom" in err


def test_cli_validate_ordered_compares_namespaces(spark, tmp_path, capsys):
    """Ordered validate matches NAMESPACE DECLARATIONS as elements
    (OrderedRdfCompare; RdfCompareSpec "different/missing namespace
    declarations"): same ttl passes, a renamed prefix mismatches, and
    an N-Quads target (no prefix events) mismatches a declaration-
    carrying stream. Unordered mode ignores declarations, like the
    reference's dataset-level UnorderedRdfCompare."""
    ttl = str(tmp_path / "ns.ttl")
    with open(ttl, "w") as fh:
        fh.write("@prefix ex: <http://ex.org/> .\nex:s ex:p ex:o .\n")
    jelly = str(tmp_path / "ns.jelly")
    assert main([
        "rdf", "to-jelly", ttl, "--to", jelly,
        "--enable-namespace-declarations",
    ]) == 0
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", ttl,
        "--compare-ordered",
    ]) == 0
    capsys.readouterr()
    ttl2 = str(tmp_path / "ns2.ttl")
    with open(ttl2, "w") as fh:
        fh.write("@prefix ex2: <http://ex.org/> .\nex2:s ex2:p ex2:o .\n")
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", ttl2,
        "--compare-ordered",
    ]) == 1
    assert "namespace declaration 0 is different" in capsys.readouterr().err
    nq = str(tmp_path / "flat.nq")
    with open(nq, "w") as fh:
        fh.write(
            "<http://ex.org/s> <http://ex.org/p> <http://ex.org/o> .\n"
        )
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", nq,
        "--compare-ordered",
    ]) == 1
    assert "Expected 0 namespace declarations, but got 1" in capsys.readouterr().err
    # unordered mode: statements only (dataset compare)
    assert main(["rdf", "validate", jelly, "--compare-to-rdf-file", nq]) == 0


def test_cli_validate_ordered_ignores_directive_lookalikes(spark, tmp_path):
    """`@prefix` text inside a multi-line literal or a comment is no
    namespace declaration: a stream declaring only `ex` passes ordered
    validate against a Turtle file that holds such text."""
    doc = str(tmp_path / "doc.ttl")
    with open(doc, "w") as fh:
        fh.write(
            "@prefix ex: <http://ex.org/> .\n"
            "# @prefix c: <http://comment/> .\n"
            'ex:s ex:doc """first line\n'
            "@prefix ghost: <http://ghost/> .\n"
            'last line""" .\n'
        )
    # the same statement with the literal on one line
    flat = str(tmp_path / "flat.ttl")
    with open(flat, "w") as fh:
        fh.write(
            "@prefix ex: <http://ex.org/> .\n"
            'ex:s ex:doc "first line\\n@prefix ghost: <http://ghost/> .'
            '\\nlast line" .\n'
        )
    jelly = str(tmp_path / "flat.jelly")
    assert main([
        "rdf", "to-jelly", flat, "--to", jelly,
        "--enable-namespace-declarations",
    ]) == 0
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", doc,
        "--compare-ordered",
    ]) == 0


def test_cli_validate_jelly_vs_jelly(spark, tmp_path, capsys):
    """The comparison file may itself be Jelly (the reference reads it
    through Jena RIOT, which speaks the protocol): self-comparison
    passes in both modes, statements compare by the target's own
    declared physical type, and ordered mode matches namespace rows on
    both sides."""
    ttl = str(tmp_path / "n.ttl")
    with open(ttl, "w") as fh:
        fh.write("@prefix ex: <http://ex.org/> .\nex:s ex:p ex:o .\n")
    with_ns = str(tmp_path / "with_ns.jelly")
    without_ns = str(tmp_path / "without_ns.jelly")
    assert main([
        "rdf", "to-jelly", ttl, "--to", with_ns,
        "--enable-namespace-declarations",
    ]) == 0
    assert main(["rdf", "to-jelly", ttl, "--to", without_ns]) == 0
    assert main([
        "rdf", "validate", with_ns, "--compare-to-rdf-file", with_ns,
        "--compare-ordered",
    ]) == 0
    assert main([
        "rdf", "validate", with_ns, "--compare-to-rdf-file", without_ns,
    ]) == 0  # unordered: statements only
    capsys.readouterr()
    assert main([
        "rdf", "validate", with_ns, "--compare-to-rdf-file", without_ns,
        "--compare-ordered",
    ]) == 1  # ordered: the target carries no namespace rows
    assert "Expected 0 namespace declarations, but got 1" in capsys.readouterr().err


def test_cli_empty_input_roundtrip(spark, tmp_path):
    """An input with no statements (an empty .nq, a comment-only .nt)
    encodes to a zero-frame stream and decodes back to zero
    statements; both commands exit 0."""
    for name, text in (("empty.nq", ""), ("comments.nt", "# nothing here\n")):
        src = tmp_path / name
        src.write_text(text)
        jelly = str(tmp_path / (name + ".jelly"))
        assert main(["rdf", "to-jelly", str(src), "--to", jelly]) == 0
        assert os.path.getsize(jelly) == 0
        out = tmp_path / (name + "_back")
        assert main(["rdf", "from-jelly", jelly, "--to", str(out)]) == 0
        lines = [
            line
            for p in os.listdir(out) if p.startswith("part-")
            for line in (out / p).read_text().splitlines() if line.strip()
        ]
        assert lines == []


def test_cli_deeply_nested_quoted_triple_roundtrip(spark, tmp_path):
    """A quoted triple nested deeper than the regex tokenizer reaches
    survives to-jelly then from-jelly next to two shallow lines."""
    from cli_spark.nquads import QT_MAX_DEPTH

    t = "<kg:s0> <kg:p> <kg:o>"
    for d in range(1, QT_MAX_DEPTH + 4):
        t = f"<kg:s{d}> <kg:p> << {t} >>"
    src = tmp_path / "deep.nt"
    src.write_text(
        f"{t} .\n"
        '<kg:plain> <kg:p> "v" .\n'
        "<kg:a> <kg:claims> << <kg:s> <kg:p> <kg:o> >> .\n"
    )
    jelly = str(tmp_path / "deep.jelly")
    assert main(["rdf", "to-jelly", str(src), "--to", jelly]) == 0
    out = tmp_path / "deep_back"
    assert main(["rdf", "from-jelly", jelly, "--to", str(out)]) == 0
    lines = [
        line
        for p in os.listdir(out) if p.startswith("part-")
        for line in (out / p).read_text().splitlines() if line.strip()
    ]
    assert len(lines) == 3
    deep = [line for line in lines if line.startswith(f"<kg:s{QT_MAX_DEPTH + 3}>")]
    assert len(deep) == 1 and deep[0].count("<<") == QT_MAX_DEPTH + 3


def test_cli_namespace_declarations_without_statements(spark, tmp_path, capsys):
    """Declarations ride in the first segment, which a stream with no
    statements does not have: a typed error, never a silent drop."""
    ttl = tmp_path / "prefixes.ttl"
    ttl.write_text("@prefix ex: <http://ex.org/> .\n")
    assert main([
        "rdf", "to-jelly", str(ttl), "--to", str(tmp_path / "p.jelly"),
        "--enable-namespace-declarations",
    ]) == 1
    err = capsys.readouterr().err
    assert "namespace declaration" in err and "no statements" in err
    assert "Traceback" not in err


def test_cli_namespace_declarations_keep_document_order(spark, tmp_path, capsys):
    """The stream carries the declarations in document order, so an
    ordered validate against the source Turtle passes."""
    names = ["n9", "n3", "n7", "n1", "n5", "n0", "n8", "n2"]
    ttl = tmp_path / "order.ttl"
    ttl.write_text(
        "".join(f"@prefix {n}: <http://ex.org/{n}/> .\n" for n in names)
        + "n9:s n3:p n7:o .\n"
    )
    jelly = str(tmp_path / "order.jelly")
    assert main([
        "rdf", "to-jelly", str(ttl), "--to", jelly,
        "--enable-namespace-declarations",
    ]) == 0
    assert main([
        "rdf", "validate", jelly, "--compare-to-rdf-file", str(ttl),
        "--compare-ordered",
    ]) == 0, capsys.readouterr().err


def test_cli_inspect_empty_stream(spark, tmp_path, capsys):
    """A zero-frame stream is the typed `empty stream` error that
    `rdf validate` gives, not an unknown error with a traceback."""
    empty = tmp_path / "empty.jelly"
    empty.write_bytes(b"")
    assert main(["rdf", "inspect", str(empty)]) == 1
    err = capsys.readouterr().err
    assert "error: empty stream" in err
    assert "Unknown error" not in err and "Traceback" not in err


def _inspect_yaml(args, tmp_path):
    import yaml

    rpt = str(tmp_path / "report.yaml")
    assert main(["rdf", "inspect", *args, "--to", rpt]) == 0, args
    with open(rpt) as fh:
        return yaml.safe_load(fh)["frames"]


def test_cli_inspect_empty_frames(spark, tmp_path):
    """An empty frame is a frame for both statistics: count mode lists
    the same (seg, frame_index) set and frame_count as --size, for an
    empty middle frame and for empty frames ahead of the options row
    (MetricsPrinter counts every frame it reads)."""
    from cli_spark import jellywire as JW

    opts = {"kind": JW.K_OPTIONS, "physical": 1, "logical": 1,
            "version": 1, "max_name": 8}
    name = {"kind": JW.K_NAME, "id": 1, "value": "http://e/a"}
    a = {"k": 0, "pid": 0, "nid": 1}
    tri = {"kind": JW.K_TRIPLE, "s": a, "p": a, "o": a}
    streams = {
        "middle": ([[opts, name, tri], [], [tri]], 3),
        "leading": ([[], [], [], [opts, name, tri]], 4),
    }
    for label, (frames, n) in streams.items():
        path = tmp_path / f"{label}.jelly"
        path.write_bytes(JW.write_delimited(JW.encode_frame(f) for f in frames))
        for size in ([], ["--size"]):
            got = _inspect_yaml([str(path), *size], tmp_path)
            assert got["frame_count"] == n, (label, size)
            per = _inspect_yaml([str(path), "--per-frame", *size], tmp_path)
            assert [(f["seg"], f["frame_index"]) for f in per] == [
                (0, i) for i in range(n)
            ], (label, size)
        per = _inspect_yaml([str(path), "--per-frame"], tmp_path)
        assert [f["row_count"] for f in per] == [len(f) for f in frames]


@pytest.mark.parametrize(
    "odd_row",
    [b"\x0a\x03\xa2\x01\x00", b"\x0a\x00"],
    ids=["unknown_kind_20", "empty_row"],
)
def test_cli_inspect_odd_row_in_first_frame(spark, tmp_path, odd_row):
    """The declared options come from the options rows alone, so a row
    of an unknown kind or an empty row in frame 0 gives the same
    aggregate report, in count mode and with --size, as the same row in
    frame 1."""
    import yaml

    from cli_spark import jellywire as JW

    opts = {"kind": JW.K_OPTIONS, "physical": 1, "logical": 1,
            "version": 1, "max_name": 8}
    name = {"kind": JW.K_NAME, "id": 1, "value": "http://e/a"}
    a = {"k": 0, "pid": 0, "nid": 1}
    tri = {"kind": JW.K_TRIPLE, "s": a, "p": a, "o": a}
    head, tail = JW.encode_frame([opts, name, tri]), JW.encode_frame([tri])
    reports = {}
    for at, frames in (("frame0", [head + odd_row, tail]), ("frame1", [head, tail + odd_row])):
        path = tmp_path / f"{at}.jelly"
        path.write_bytes(JW.write_delimited(frames))
        for size in ([], ["--size"]):
            rpt = str(tmp_path / "report.yaml")
            assert main(["rdf", "inspect", str(path), *size, "--to", rpt]) == 0, (at, size)
            with open(rpt) as fh:
                reports[at, tuple(size)] = yaml.safe_load(fh)
    for size in ((), ("--size",)):
        assert reports["frame0", size] == reports["frame1", size], size


def test_cli_inspect_job_budget(spark, tmp_path):
    """Count mode and --size read the same wire walk, so each flag set
    runs the same number of Spark jobs in the `rdf inspect` group for
    both statistics, and that number is pinned: a decode of the rows
    (a grouped per-segment resolve) would add jobs, and so would a
    Spark-side sort of the per-frame table (a range-bounds sample that
    re-runs the wire walk)."""
    stream = os.path.join(
        os.path.dirname(__file__), "fixtures", "encoder", "triples_pt0_n64.jelly"
    )
    tracker = spark.sparkContext.statusTracker()
    budget = {
        (): 2,
        ("--per-frame",): 2,
        ("--detail", "all"): 5,
        ("--per-frame", "--detail", "node"): 4,
    }
    got = {}
    for flags in budget:
        for size in ((), ("--size",)):
            before = set(tracker.getJobIdsForGroup("rdf inspect"))
            _inspect_yaml([stream, *flags, *size], tmp_path)
            jobs = set(tracker.getJobIdsForGroup("rdf inspect")) - before
            got[flags + size] = len(jobs)
    assert got == {
        flags + size: n for flags, n in budget.items()
        for size in ((), ("--size",))
    }, got


def test_cli_transcode_job_budget(spark, tmp_path):
    """`rdf transcode` of two streams into one runs 5 Spark jobs: one
    checkpoint of both inputs, then the per-segment maxima pass and the
    per-segment shift pass, each a shuffle job and a result job. The
    shift pass feeds the driver-side write directly; a Spark-side sort
    in front of the write ran it twice (7 jobs)."""
    stream = os.path.join(
        os.path.dirname(__file__), "fixtures", "encoder", "triples_pt1_n64.jelly"
    )
    out = str(tmp_path / "merged.jelly")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup("rdf transcode"))
    assert main(["rdf", "transcode", stream, stream, "--to", out]) == 0
    jobs = set(tracker.getJobIdsForGroup("rdf transcode")) - before
    assert len(jobs) == 5, len(jobs)


def _bad_transcode_input(case):
    from cli_spark import jellywire as JW

    opts = {"kind": JW.K_OPTIONS, "physical": 1, "logical": 1,
            "version": 1, "max_name": 8}
    name = {"kind": JW.K_NAME, "id": 1, "value": "http://e/a"}
    a = {"k": 0, "pid": 0, "nid": 1}
    tri = {"kind": JW.K_TRIPLE, "s": a, "p": a, "o": a}
    if case == "unknown_kind_20_in_frame_1":
        return [JW.encode_frame([opts, name, tri]),
                JW.encode_frame([tri]) + b"\x0a\x03\xa2\x01\x00"]
    if case == "version_3":
        return [JW.encode_frame([{**opts, "version": 3}, name, tri])]
    return [JW.encode_frame([opts, name, {**tri, "s": None}])]


@pytest.mark.parametrize(
    "case, message",
    [
        ("unknown_kind_20_in_frame_1", "frame 1: unknown RdfStreamRow field 20"),
        ("version_3", "frame 0: unsupported stream version 3"),
        ("first_statement_elides_subject", "frame 0: statement elides the s term"),
    ],
)
def test_cli_transcode_bad_input_typed_error(spark, tmp_path, capsys, case, message):
    """A malformed input ends `rdf transcode` in the typed-error
    contract: `error: …` naming the input and the frame, exit 1, no
    traceback. The first pass over each block reports the fault as
    data, so no job is added."""
    good = os.path.join(
        os.path.dirname(__file__), "fixtures", "encoder", "triples_pt1_n64.jelly"
    )
    from cli_spark import jellywire as JW

    bad = tmp_path / "bad.jelly"
    bad.write_bytes(JW.write_delimited(_bad_transcode_input(case)))
    capsys.readouterr()
    assert main(["rdf", "transcode", good, str(bad), "--to", str(tmp_path / "o.jelly")]) == 1
    err = capsys.readouterr().err
    assert f"error: transcode input 2 of 2, {message}" in err, err
    assert "Traceback" not in err and "Unknown error" not in err


def test_cli_to_jelly_reads_one_row_per_line_jelly_text(spark, tmp_path):
    """Jelly-text with each `rows { … }` block on one line is read
    whole: every row reaches the binary stream (a reader that cut the
    text at lines starting `}` found no row in it)."""
    from cli_spark import jellywire as JW

    opts = {"kind": JW.K_OPTIONS, "stream_name": "", "physical": 1,
            "generalized": False, "rdf_star": False, "logical": 1,
            "version": 1, "max_name": 8, "max_prefix": 0, "max_dt": 0}
    a = {"k": 0, "pid": 0, "nid": 1}
    rows = [
        opts,
        {"kind": JW.K_NAME, "id": 1, "value": "http://e/a"},
        {"kind": JW.K_NAME, "id": 2, "value": "http://e/b"},
        {"kind": JW.K_TRIPLE, "s": a, "p": a, "o": a},
        {"kind": JW.K_TRIPLE, "s": a, "p": {**a, "nid": 2}, "o": a},
    ]
    text = tmp_path / "flat.jelly.txt"
    text.write_text("".join(
        " ".join(line.strip() for line in JW.render_row_text(r).split("\n")) + "\n"
        for r in rows
    ))
    out = tmp_path / "flat.jelly"
    assert main(["--quiet", "rdf", "to-jelly", str(text), "--to", str(out)]) == 0
    _, blobs = JW.split_delimited(out.read_bytes())
    assert [row for b in blobs for row in JW.decode_frame(b)] == rows


def test_cli_validate_job_budget(spark, tmp_path):
    """`rdf validate` labels its Spark jobs with the command and runs a
    fixed handful of them: the structural checks are one aggregate, both
    sides of the isomorphism compare share one refinement loop and the
    verdict is one aggregate."""
    nq = tmp_path / "bn.nq"
    nq.write_text("".join(
        f"_:b{i} <http://x/p> _:b{i + 1} <http://g/{i % 3}> .\n"
        f"_:b{i} <http://x/v> \"{i}\"^^<http://www.w3.org/2001/XMLSchema#int> .\n"
        f"<http://x/s{i}> <http://x/q> \"t{i}\"@en <http://g/{i % 2}> .\n"
        for i in range(30)
    ))
    jelly = str(tmp_path / "bn.jelly")
    assert main(["rdf", "to-jelly", str(nq), "--to", jelly, "--rows-per-frame", "16"]) == 0
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup("rdf validate"))
    assert main(["rdf", "validate", jelly, "--compare-to-rdf-file", str(nq)]) == 0
    jobs = set(tracker.getJobIdsForGroup("rdf validate")) - before
    assert 0 < len(jobs) <= 24, len(jobs)
    # the caller's job group is restored afterwards
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
