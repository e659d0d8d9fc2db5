"""Jelly protobuf stream frames over Spark (SURVEY.md §2.1 S9/S15,
§3.1-3.2) — REAL wire format.

The reference serializes RDF statement streams as length-delimited
protobuf ``RdfStreamFrame`` messages: an options header row,
lookup-table entry rows (prefix + name + datatype tables), and
statement rows whose IRI terms reference table ids while bnode/literal
terms ride inline (/root/reference/src/main/scala/eu/neverblink/jelly/
cli/command/rdf/RdfToJelly.scala:130-199; row taxonomy per
MetricsPrinter.scala:69-82; three-table contract per
RdfJellySerializationOptions.scala:33-35).

Since round 4 this module speaks the ACTUAL Jelly protobuf wire
(:mod:`cli_spark.jellywire`): streams written here decode with real
``jelly-cli`` and the reference's own golden fixtures decode here
(``tests/test_jelly_conformance.py``).

Spark shape:

- encode: statements → deterministic global order (W1) → ONE
  ``applyInPandas`` task per segment builds that segment's bounded
  dictionaries in-task, first-use ordered (W5) — the name table holds
  only IRI terms (locals after the prefix split F1), the datatype
  table literal datatypes; bnode labels and literal lexicals are
  inline per the wire spec — assigns frames
  ``floor((rn-1)/rows_per_frame)`` (W2) and packs the protobuf bytes →
  frames table ``(seg, frame_index, n_rows, frame_bytes)``. One
  shuffle on the uniform ``seg`` key; no dictionary joins. Namespace
  declarations are collected into a small list handed to the segment-0
  task, whose dictionaries take their IRIs ahead of first use. Every
  id is written EXPLICITLY
  (legal Jelly), so any conformant decoder — including a
  frame-parallel one — can read our streams without sequential state.
- decode: frames table → groupBy(seg) → sequential
  :class:`~cli_spark.jellywire.StreamState` resolution per segment
  (segments are bounded: ≤ max_name_table/nterms statements, so one
  task per segment is small work, and segments/files are embarrassingly
  parallel at 100 TB). Resolution handles the wire's full stateful
  compression (implicit prev+1 ids, term elision, bounded-table id
  reuse) — the reference's sequential decoder (RdfFromJelly.scala:
  166-177) with the FILE as the parallelism unit. The output rows
  table carries fully-resolved terms, so downstream decode is a pure
  filter+select — no dictionary joins, no shuffles.

Quoted triples (RDF-star) are atomized in the segment task on encode
(their component IRIs/datatypes feed the same dictionaries) and
reassembled into ``"<< ... >>"`` source text on decode.
"""

from __future__ import annotations

import dataclasses
import json
import re
from collections.abc import Iterator
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import jellywire as JW
from .order import collect_sorted

if TYPE_CHECKING:
    import pandas as pd

ROWS_PER_FRAME = 256  # reference default, RdfToJelly.scala:53-56
MAX_NAME_TABLE = 4096  # BIG-ish default; min 8 per reference tests
MAX_PREFIX_TABLE = 1024
VERSION = 1  # real Jelly protocol version (2 when namespaces are used)
VERSION_MAX = 2

PHYSICAL_TRIPLES = 1
PHYSICAL_QUADS = 2
PHYSICAL_GRAPHS = 3

# Logical (STaX) types and the camelCase↔UPPER_SNAKE mapping (F6/P12,
# RdfLogicalType enum names vs stax ontology IRI local names).
LOGICAL_UNSPECIFIED = 0
LOGICAL_FLAT_TRIPLES = 1
LOGICAL_FLAT_QUADS = 2
LOGICAL_GRAPHS = 3
LOGICAL_DATASETS = 4
LOGICAL_NAMES = {
    LOGICAL_UNSPECIFIED: "UNSPECIFIED",
    LOGICAL_FLAT_TRIPLES: "FLAT_TRIPLES",
    LOGICAL_FLAT_QUADS: "FLAT_QUADS",
    LOGICAL_GRAPHS: "GRAPHS",
    LOGICAL_DATASETS: "DATASETS",
}
STAX_BASE = "https://w3id.org/stax/ontology#"
# logical type → physical types it is valid over (RdfValidate.scala:118-143)
LOGICAL_COMPAT = {
    LOGICAL_FLAT_TRIPLES: {PHYSICAL_TRIPLES},
    LOGICAL_FLAT_QUADS: {PHYSICAL_QUADS, PHYSICAL_GRAPHS},
    LOGICAL_GRAPHS: {PHYSICAL_TRIPLES},
    LOGICAL_DATASETS: {PHYSICAL_QUADS, PHYSICAL_GRAPHS},
}

# Row kinds ARE the RdfStreamRow oneof field numbers (jellywire).
KIND_OPTIONS = JW.K_OPTIONS
KIND_TRIPLE = JW.K_TRIPLE
KIND_QUAD = JW.K_QUAD
KIND_GRAPH_START = JW.K_GRAPH_START
KIND_GRAPH_END = JW.K_GRAPH_END
KIND_NAMESPACE = JW.K_NAMESPACE
KIND_NAME = JW.K_NAME
KIND_PREFIX = JW.K_PREFIX
KIND_DATATYPE = JW.K_DATATYPE

# Term kinds (match cli_spark.nquads; 4 = default graph).
T_IRI, T_BNODE, T_LITERAL, T_QUOTED, T_DEFAULT_GRAPH = 0, 1, 2, 3, 4

FRAME_SCHEMA = "seg long, frame_index long, n_rows int, frame_bytes binary"

# Fully-RESOLVED rows table: statements carry term values directly
# (per-position kind/datatype/langtag for exact generalized RDF).
ROW_SCHEMA = (
    "seg long, frame_index long, row_pos int, row_kind int, "
    "subj string, subj_kind int, subj_dt string, subj_lang string, "
    "pred string, pred_kind int, pred_dt string, pred_lang string, "
    "obj string, obj_kind int, obj_datatype string, obj_lang string, "
    "graph string, graph_kind int, graph_dt string, graph_lang string, "
    "name_id long, name string, aux string, "
    "opt_version int, opt_physical int, opt_logical int, opt_flags int, "
    "opt_max_name int, opt_max_prefix int, opt_max_dt int"
)
_ROW_COLS = [s.split()[0] for s in ROW_SCHEMA.split(", ")]

# Pre-frame encoder row columns: statements carry per-position
# (kind, name id, prefix id, inline value | quoted-term JSON,
# datatype id, langtag); entry and namespace rows carry (name_id, name).
_PRE_COLS = (
    ["seg", "frame_index", "sort_key", "minor", "row_kind"]
    + [
        f"{p}_{f}"
        for p in ("s", "p", "o", "g")
        for f in ("kind", "nid", "pid", "val", "dt", "lang")
    ]
    + ["name_id", "name"]
)


def camel_to_snake(name: str) -> str:
    """lowerCamel → UPPER_SNAKE (F6, e.g. flatTriples → FLAT_TRIPLES)."""
    out = []
    for ch in name:
        if ch.isupper():
            out.append("_")
        out.append(ch.upper())
    return "".join(out)


def logical_type_from_iri(iri: str) -> int:
    """STaX ontology IRI → logical-type enum (P12). The published
    ontology locals are SINGULAR — #flatQuadStream ↔ FLAT_QUADS, the
    reference's rule (RdfJellySerializationOptions.scala:73-78); the
    plural spelling this repo emitted before round 5 still resolves."""
    local = iri.rsplit("#", 1)[-1]
    if local.endswith("Stream"):
        local = local[: -len("Stream")]
    name = camel_to_snake(local)
    for cand in (name + "S", name):
        for code, nm in LOGICAL_NAMES.items():
            if nm == cand:
                return code
    raise ValueError(f"unknown logical stream type IRI: {iri}")


@dataclass(frozen=True)
class StreamOptions:
    """Full RdfStreamOptions (RdfJellySerializationOptions.scala:33-45):
    version, physical/logical type, generalized-RDF + RDF-star flags,
    stream name, and the three lookup-table max sizes."""

    version: int = VERSION
    physical_type: int = PHYSICAL_TRIPLES
    logical_type: int = LOGICAL_UNSPECIFIED
    generalized: bool = False
    rdf_star: bool = False
    stream_name: str = ""
    max_name_table: int = MAX_NAME_TABLE
    max_prefix_table: int = MAX_PREFIX_TABLE
    max_dt_table: int = MAX_NAME_TABLE

    @property
    def flags(self) -> int:
        return (1 if self.generalized else 0) | (2 if self.rdf_star else 0)


def options_cascade(
    cli: dict | None = None,
    from_file: StreamOptions | None = None,
    derived: StreamOptions | None = None,
) -> StreamOptions:
    """Option cascade (P13, RdfJellySerializationOptions.scala:104-140):
    explicit CLI flags > options copied from a file > options derived
    from the input > library defaults. ``cli`` keys with value ``None``
    are treated as unset."""
    opts = StreamOptions()
    for layer in (derived, from_file):
        if layer is not None:
            opts = dataclasses.replace(
                opts,
                **{
                    f.name: getattr(layer, f.name)
                    for f in dataclasses.fields(StreamOptions)
                },
            )
    if cli:
        updates = {k: v for k, v in cli.items() if v is not None}
        if updates:
            opts = dataclasses.replace(opts, **updates)
    return dataclasses.replace(opts, version=VERSION)


decode_frame = JW.decode_frame


# ---------------------------------------------------------------------------
# encode: statements → frames
# ---------------------------------------------------------------------------

_PREFIX_RE = r"^(.*[/#])"

# sort minor: fixed emit order within equal sort_key
_MINOR_PREFIX = 1
_MINOR_DATATYPE = 2
_MINOR_NAME = 3
_MINOR_NAMESPACE = 4  # after the entries its IRI references
_MINOR_GRAPH_START = 5
_MINOR_STATEMENT = 6
_MINOR_GRAPH_END = 7


def _infer_kind(col):
    """Flat-model term kind inference: "<<"->quoted, "_:"->bnode, else
    IRI. Explicit *_kind columns (the full term model) override this."""
    return (
        F.when(col.startswith("<<"), F.lit(T_QUOTED))
        .when(col.startswith("_:"), F.lit(T_BNODE))
        .otherwise(F.lit(T_IRI))
    )


def _quoted_atoms_py(qtext: str):
    """'<< s p o >>' source text → depth-first (path, kind, value,
    datatype, langtag) atoms; nested quoted terms become internal kind-3
    nodes. Paths are '0'/'1'/'2' segments joined with '.'."""
    from .nquads import _classify_py, _tokenize_terms_py

    def rec(text, path):
        inner = text.strip()
        inner = inner[2:-2]  # strip << >>
        terms = _tokenize_terms_py(inner)
        for i, t in enumerate(terms[:3]):
            p = f"{path}.{i}" if path else str(i)
            if t.startswith("<<"):
                yield (p, T_QUOTED, None, None, None)
                yield from rec(t, p)
            else:
                v, k, dt, lang = _classify_py(t)
                yield (p, k, v, dt, lang)

    return list(rec(qtext, ""))


def _term_from_pre(r, pos: str):
    """pre-frame row → jellywire term dict for one position."""
    import pandas as pd

    k = getattr(r, f"{pos}_kind")
    if k is None or (isinstance(k, float) and pd.isna(k)):
        return None
    k = int(k)
    if k == T_IRI:
        pid = getattr(r, f"{pos}_pid")
        nid = getattr(r, f"{pos}_nid")
        return {
            "k": T_IRI,
            "pid": 0 if pd.isna(pid) else int(pid),
            "nid": 0 if pd.isna(nid) else int(nid),
        }
    if k == T_BNODE:
        v = getattr(r, f"{pos}_val")
        return {"k": T_BNODE, "v": v if isinstance(v, str) else ""}
    if k == T_LITERAL:
        v = getattr(r, f"{pos}_val")
        lang = getattr(r, f"{pos}_lang")
        dt = getattr(r, f"{pos}_dt")
        return {
            "k": T_LITERAL,
            "v": v if isinstance(v, str) else "",
            "lang": lang if isinstance(lang, str) and lang else None,
            "dt": 0 if pd.isna(dt) else int(dt),
        }
    if k == T_QUOTED:
        return json.loads(getattr(r, f"{pos}_val"))
    return {"k": T_DEFAULT_GRAPH}


# varint byte cache: dictionary ids follow a Zipf-ish reuse pattern, so
# most varints in a frame are repeats — a dict lookup beats re-packing.
_VCACHE: dict[int, bytes] = {}


def _vb(v: int) -> bytes:
    b = _VCACHE.get(v)
    if b is None:
        x, out = v, bytearray()
        while True:
            lo = x & 0x7F
            x >>= 7
            if x:
                out.append(lo | 0x80)
            else:
                out.append(lo)
                break
        b = bytes(out)
        if len(_VCACHE) < (1 << 20):
            _VCACHE[v] = b
    return b


def _pack_rows(pdf: "pd.DataFrame") -> tuple[int, bytes]:
    """Pre-frame rows (any order) → (row count, frame payload bytes) on
    the real protobuf wire.

    Batch-tuned hot path (the to-jelly throughput lever): columns pull
    out of pandas ONCE as python lists, statement/entry rows emit
    protobuf bytes directly into one bytearray with cached varints and
    precomputed tags — no per-row dicts, no per-field BytesIO. Rare row
    kinds (namespace, graph start/end, quoted terms) fall back to the
    jellywire dict codec."""
    import numpy as np

    order = np.lexsort((pdf["minor"].to_numpy(), pdf["sort_key"].to_numpy()))
    n = len(pdf)

    def col(name):
        return pdf[name].to_numpy()[order]

    row_kind = col("row_kind")
    kinds = {}
    vals = {}
    nids = {}
    pids = {}
    dts = {}
    langs = {}
    for p in ("s", "p", "o", "g"):
        kinds[p] = col(f"{p}_kind")
        vals[p] = col(f"{p}_val")
        nids[p] = col(f"{p}_nid")
        pids[p] = col(f"{p}_pid")
        dts[p] = col(f"{p}_dt")
        langs[p] = col(f"{p}_lang")
    name_id = col("name_id")
    name = col("name")

    # precomputed tags: term field = base + selector, wire type 2
    TAGS = {
        (p, sel): bytes([((i * 4 + sel) << 3) | 2])
        for i, p in enumerate(("s", "p", "o"))
        for sel in (1, 2, 3, 4)
    }
    # field 16's tag exceeds one byte — always varint-encode tags
    G_IRI, G_BNODE, G_DEFAULT, G_LIT = (
        _vb((13 << 3) | 2), _vb((14 << 3) | 2),
        _vb((15 << 3) | 2), _vb((16 << 3) | 2),
    )
    LEX_T, LANG_T, DT_T = b"\x0a", b"\x12", b"\x18"
    PID_T, NID_T = b"\x08", b"\x10"
    ENTRY_ID_T, ENTRY_VAL_T = b"\x08", b"\x12"
    FRAME_ROW_T = b"\x0a"

    def term_bytes(p: str, i: int) -> bytes:
        k = kinds[p][i]
        k = int(k)
        if k == T_IRI:
            pid = pids[p][i]
            nid = nids[p][i]
            body = b""
            if pid == pid and pid:  # not-NaN and nonzero
                body += PID_T + _vb(int(pid))
            if nid == nid and nid:
                body += NID_T + _vb(int(nid))
            return TAGS[(p, 1)] + _vb(len(body)) + body if p != "g" else (
                G_IRI + _vb(len(body)) + body
            )
        if k == T_BNODE:
            raw = (vals[p][i] or "").encode("utf-8")
            tag = TAGS[(p, 2)] if p != "g" else G_BNODE
            return tag + _vb(len(raw)) + raw
        if k == T_LITERAL:
            v = vals[p][i]
            body = b""
            if isinstance(v, str) and v:
                raw = v.encode("utf-8")
                body += LEX_T + _vb(len(raw)) + raw
            lang = langs[p][i]
            if isinstance(lang, str) and lang:
                lraw = lang.encode("utf-8")
                body += LANG_T + _vb(len(lraw)) + lraw
            dt = dts[p][i]
            if dt == dt and dt:
                body += DT_T + _vb(int(dt))
            tag = TAGS[(p, 3)] if p != "g" else G_LIT
            return tag + _vb(len(body)) + body
        if k == T_QUOTED:
            if p == "g":
                # the real wire has no quoted-triple graph field
                # (RdfQuad's graph oneof is iri/bnode/default/literal) —
                # same typed error as jellywire._encode_statement
                raise ValueError(
                    f"term kind {k} invalid in graph position"
                )
            body = JW._encode_statement(json.loads(vals[p][i]), quad=False)
            return TAGS[(p, 4)] + _vb(len(body)) + body
        # default graph (graph position only)
        return G_DEFAULT + b"\x00"

    buf = bytearray()
    n_rows = 0
    for i in range(n):
        kind = int(row_kind[i])
        if kind in (KIND_TRIPLE, KIND_QUAD):
            body = term_bytes("s", i) + term_bytes("p", i) + term_bytes("o", i)
            if kind == KIND_QUAD:
                gk = kinds["g"][i]
                if gk == gk and gk is not None:
                    body += term_bytes("g", i)
            row = bytes([(kind << 3) | 2]) + _vb(len(body)) + body
        elif kind in (KIND_NAME, KIND_PREFIX, KIND_DATATYPE):
            body = b""
            eid = name_id[i]
            if eid == eid and eid:
                body += ENTRY_ID_T + _vb(int(eid))
            v = name[i]
            if isinstance(v, str) and v:
                raw = v.encode("utf-8")
                body += ENTRY_VAL_T + _vb(len(raw)) + raw
            row = bytes([(kind << 3) | 2]) + _vb(len(body)) + body
        else:
            # rare kinds: graph boundaries / namespaces —
            # go through the dict codec
            row = JW.encode_row(_slow_row(pdf, order[i]))
        buf += FRAME_ROW_T + _vb(len(row)) + row
        n_rows += 1
    return n_rows, bytes(buf)


def _slow_row(pdf: "pd.DataFrame", idx: int) -> dict:
    """Dict form of one pre-frame row for the rare row kinds."""
    import pandas as pd

    r = pdf.iloc[idx]
    kind = int(r["row_kind"])
    if kind == KIND_GRAPH_START:
        class _R:  # attribute view for _term_from_pre
            pass

        rr = _R()
        for c in ("g_kind", "g_nid", "g_pid", "g_val", "g_dt", "g_lang"):
            setattr(rr, c, r[c])
        return {"kind": kind, "g": _term_from_pre(rr, "g") or {"k": T_DEFAULT_GRAPH}}
    if kind == KIND_GRAPH_END:
        return {"kind": kind}
    if kind == KIND_NAMESPACE:
        nid = 0 if pd.isna(r["g_nid"]) else int(r["g_nid"])
        pid = 0 if pd.isna(r["g_pid"]) else int(r["g_pid"])
        return {
            "kind": kind,
            "name": r["name"] or "",
            "iri": {"k": T_IRI, "pid": pid, "nid": nid},
        }
    raise ValueError(f"unknown row kind {kind}")


def _canonical_terms(statements: DataFrame, is_quads: bool) -> DataFrame:
    """statements → canonical per-position term columns: {pos}_val,
    {pos}_kind, {pos}_dtv (datatype IRI string), {pos}_lang. Accepts the
    flat model (subj/pred/obj[,graph] + obj_kind[,obj_datatype,obj_lang])
    plus optional explicit *_kind and per-term *_dt/*_lang columns."""
    cols = statements.columns
    sel = []
    spec = [("s", "subj"), ("p", "pred"), ("o", "obj")]
    if is_quads:
        spec.append(("g", "graph"))
    for pos, col in spec:
        if pos == "o":
            kind = F.col("obj_kind").cast("int")
            dtv = (
                F.col("obj_datatype") if "obj_datatype" in cols
                else F.lit(None).cast("string")
            )
            lang = (
                F.col("obj_lang") if "obj_lang" in cols
                else F.lit(None).cast("string")
            )
        else:
            if f"{col}_kind" in cols:
                kind = F.coalesce(
                    F.col(f"{col}_kind").cast("int"),
                    F.lit(T_DEFAULT_GRAPH) if pos == "g" else _infer_kind(F.col(col)),
                )
            elif pos == "g":
                kind = F.when(F.col(col).isNull(), F.lit(T_DEFAULT_GRAPH)).otherwise(
                    _infer_kind(F.col(col))
                )
            else:
                kind = _infer_kind(F.col(col))
            dtv = (
                F.col(f"{col}_dt") if f"{col}_dt" in cols
                else F.lit(None).cast("string")
            )
            lang = (
                F.col(f"{col}_lang") if f"{col}_lang" in cols
                else F.lit(None).cast("string")
            )
        is_lit = kind == T_LITERAL
        sel += [
            F.col(col).alias(f"{pos}_val"),
            kind.alias(f"{pos}_kind"),
            F.when(is_lit, dtv).alias(f"{pos}_dtv"),
            F.when(is_lit, lang).alias(f"{pos}_lang"),
        ]
    return statements.select(*sel)


_TERM_COLS = lambda pos: [f"{pos}_val", f"{pos}_kind", f"{pos}_dtv", f"{pos}_lang"]  # noqa: E731


_FRAME_USED_SCHEMA = FRAME_SCHEMA + ", used_name int, used_prefix int, used_dt int"


def _options_row_blob(
    options: StreamOptions,
    physical: int,
    version: int,
    declared_name: int,
    declared_prefix: int,
    declared_dt: int,
) -> bytes:
    """Length-delimited ``rows { options { ... } }`` bytes, identical for
    every segment of a stream (P10 later-options equality)."""
    row = JW.encode_row(
        {
            "kind": KIND_OPTIONS,
            "stream_name": options.stream_name or "",
            "physical": physical,
            "generalized": options.generalized,
            "rdf_star": options.rdf_star,
            "logical": options.logical_type,
            "version": version,
            "max_name": declared_name,
            "max_prefix": declared_prefix,
            "max_dt": declared_dt,
        }
    )
    return b"\x0a" + _vb(len(row)) + row


def _encode_segment_fn(
    physical: int,
    rows_per_frame: int,
    prefix_table: bool,
    namespaces: list[tuple[str, str]] | None,
):
    """groupBy(seg).applyInPandas encoder: one SEGMENT's canonical
    statement rows → that segment's frames (minus the options row,
    prepended by the caller once global declared sizes are known).

    The entire dictionary pipeline — first-use name/prefix/datatype id
    assignment, RDF-star atomization, graph-run detection, frame
    assignment — runs in-task over one bounded segment (≤ max_name_table
    / nterms statements) as plain columnar work. Terms rank by (first
    use rn, term) in code-point order; entry rows land in the frame of
    first use ahead of the using statement. The segment-0 task also
    takes ``namespaces`` — ``(name, iri)`` pairs in declaration order —
    into its dictionaries at rn 0 and emits one namespace row per pair
    at the head of frame 0, after the entries its IRI references."""
    is_quads = physical == PHYSICAL_QUADS
    is_graphs = physical == PHYSICAL_GRAPHS
    positions = ["s", "p", "o"] + (["g"] if is_quads else [])
    feed_positions = ["s", "p", "o"] + (["g"] if (is_quads or is_graphs) else [])
    stmt_kind = KIND_QUAD if is_quads else KIND_TRIPLE
    prefix_rx = re.compile(_PREFIX_RE)

    def first_use_ids(pairs):
        """(use_rn, value) pairs → ({value: id}, [(value, first_rn)] in
        id order). Ids are 1-based dense ranks over (first_rn, value)."""
        first: dict = {}
        for rn, v in pairs:
            o = first.get(v)
            if o is None or rn < o:
                first[v] = rn
        items = sorted(first.items(), key=lambda kv: (kv[1], kv[0]))
        return {v: i + 1 for i, (v, _) in enumerate(items)}, items

    def encode_segment(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("rn").reset_index(drop=True)
        seg = int(pdf["seg"].iloc[0])
        n = len(pdf)
        rns = pdf["rn"].to_numpy()

        # --- dictionary feeds: IRI terms and literal datatypes, with
        # their first-use rn (top-level positions + quoted-term atoms)
        iri_pairs: list = []
        dt_pairs: list = []
        kinds_np = {p: pdf[f"{p}_kind"].to_numpy() for p in feed_positions}
        for p in feed_positions:
            kind = kinds_np[p]
            vals = pdf[f"{p}_val"].to_numpy()
            dtvs = pdf[f"{p}_dtv"].to_numpy()
            m = kind == T_IRI
            if m.any():
                iri_pairs.extend(zip(rns[m].tolist(), vals[m].tolist()))
            md = pd.notna(dtvs)
            if md.any():
                dt_pairs.extend(zip(rns[md].tolist(), dtvs[md].tolist()))
        # namespace IRIs enter the seg-0 dictionary ahead of first use
        ns_here = namespaces if (seg == 0 and namespaces) else []
        iri_pairs.extend((0, iri) for _name, iri in ns_here)

        # RDF-star: atomize quoted terms in-task; atoms feed the dicts
        trees: dict = {}
        for p in positions:
            qm = kinds_np[p] == T_QUOTED
            if not qm.any():
                continue
            vals = pdf[f"{p}_val"].to_numpy()
            for i in np.nonzero(qm)[0]:
                atoms = _quoted_atoms_py(vals[i])
                trees[(int(i), p)] = atoms
                rn = int(rns[i])
                for _path, k, v, dt, _lang in atoms:
                    if k == T_IRI:
                        iri_pairs.append((rn, v))
                    if dt is not None:
                        dt_pairs.append((rn, dt))

        term_ids, term_items = first_use_ids(iri_pairs)
        dt_ids, dt_items = first_use_ids(dt_pairs)
        # prefix table (F1): greedy split at the last / or #. On the
        # wire, prefix id 0 in a statement means "same prefix as the
        # previous IRI", so every IRI references its prefix explicitly;
        # unsplittable terms reference an entry whose value is "" (what
        # jelly-jvm does)
        if prefix_table:
            term_pfx = {}
            pfx_first: dict = {}
            for t, frn in term_items:
                m = prefix_rx.match(t)
                pfx = m.group(1) if m else ""
                term_pfx[t] = pfx
                o = pfx_first.get(pfx)
                if o is None or frn < o:
                    pfx_first[pfx] = frn
            pfx_items = sorted(pfx_first.items(), key=lambda kv: (kv[1], kv[0]))
            pfx_ids = {v: i + 1 for i, (v, _) in enumerate(pfx_items)}
            term_pid = {t: pfx_ids[term_pfx[t]] for t in term_pfx}
        else:
            pfx_items, pfx_ids, term_pfx, term_pid = [], {}, {}, {}

        # --- quoted-term ref-JSON (ids resolved from the in-task dicts;
        # tree shape and dump flags are what the decoder's JSON reads)
        qjson_by_cell = {}
        for (i, p), atoms in trees.items():
            nodes: dict = {}
            for path, k, v, dt, lang in atoms:
                if k == T_QUOTED:
                    node = {"k": T_QUOTED, "s": None, "p": None, "o": None}
                elif k == T_IRI:
                    node = {
                        "k": T_IRI,
                        "pid": term_pid.get(v, 0),
                        "nid": term_ids.get(v, 0),
                    }
                elif k == T_BNODE:
                    node = {"k": T_BNODE, "v": v}
                else:
                    node = {
                        "k": T_LITERAL,
                        "v": v if isinstance(v, str) else "",
                        "lang": lang if isinstance(lang, str) else None,
                        "dt": dt_ids.get(dt, 0) if dt is not None else 0,
                    }
                nodes[path] = node
            root = {"k": T_QUOTED, "s": None, "p": None, "o": None}
            for path, node in nodes.items():
                if "." in path:
                    parent, idx = path.rsplit(".", 1)
                    nodes[parent][("s", "p", "o")[int(idx)]] = node
                else:
                    root[("s", "p", "o")[int(path)]] = node
            qjson_by_cell[(i, p)] = json.dumps(
                root, ensure_ascii=False, sort_keys=True
            )

        # --- statement pre-rows (vectorized: dict maps over columns)
        pre_parts = []
        stmt = pd.DataFrame(
            {
                "seg": np.full(n, seg, dtype="int64"),
                "frame_index": (rns - 1) // rows_per_frame,
                "sort_key": rns,
                "minor": np.full(n, _MINOR_STATEMENT, dtype="int64"),
                "row_kind": np.full(n, stmt_kind, dtype="int64"),
            }
        )
        for p in positions:
            kind = pd.Series(kinds_np[p])
            vals = pdf[f"{p}_val"]
            is_iri = kind == T_IRI
            is_lit = kind == T_LITERAL
            stmt[f"{p}_kind"] = kind
            stmt[f"{p}_nid"] = vals.map(term_ids).where(is_iri)
            stmt[f"{p}_pid"] = (
                vals.map(term_pid).where(is_iri)
                if prefix_table
                else pd.Series([None] * n, dtype=object)
            )
            val_out = vals.copy()
            for (i, pp), qj in qjson_by_cell.items():
                if pp == p:
                    val_out.iloc[i] = qj
            stmt[f"{p}_val"] = val_out
            stmt[f"{p}_dt"] = pdf[f"{p}_dtv"].map(dt_ids).where(is_lit)
            stmt[f"{p}_lang"] = pdf[f"{p}_lang"].where(is_lit)
        pre_parts.append(stmt)

        # --- lookup-table entry pre-rows: frame of first use
        def entry_rows(items, minor, row_kind, render):
            if not items:
                return None
            frn = np.maximum(np.array([r for _, r in items], dtype="int64"), 1)
            return pd.DataFrame(
                {
                    "seg": np.full(len(items), seg, dtype="int64"),
                    "frame_index": (frn - 1) // rows_per_frame,
                    "sort_key": frn,
                    "minor": np.full(len(items), minor, dtype="int64"),
                    "row_kind": np.full(len(items), row_kind, dtype="int64"),
                    "name_id": np.arange(1, len(items) + 1, dtype="int64"),
                    "name": [render(v) for v, _ in items],
                }
            )

        pre_parts.append(
            entry_rows(
                term_items, _MINOR_NAME, KIND_NAME,
                (lambda t: t[len(term_pfx[t]):]) if prefix_table else (lambda t: t),
            )
        )
        pre_parts.append(
            entry_rows(dt_items, _MINOR_DATATYPE, KIND_DATATYPE, lambda v: v)
        )
        if prefix_table:
            pre_parts.append(
                entry_rows(pfx_items, _MINOR_PREFIX, KIND_PREFIX, lambda v: v)
            )

        # --- namespace declarations: head of frame 0, after the entries
        # their IRIs reference, in declaration order
        if ns_here:
            pre_parts.append(
                pd.DataFrame(
                    {
                        "seg": seg,
                        "frame_index": 0,
                        "sort_key": 1,
                        "minor": _MINOR_NAMESPACE,
                        "row_kind": KIND_NAMESPACE,
                        "name": [name for name, _ in ns_here],
                        "g_nid": [term_ids[iri] for _, iri in ns_here],
                        "g_pid": [term_pid.get(iri) for _, iri in ns_here],
                    }
                )
            )

        # --- graph runs (GRAPHS): contiguous by construction (W3 —
        # ordering is graph-first), so change points delimit runs
        if is_graphs:
            gk = kinds_np["g"]
            gv = pdf["g_val"].to_numpy()
            gd = pdf["g_dtv"].to_numpy()
            gl = pdf["g_lang"].to_numpy()
            starts = [0]
            for i in range(1, n):
                if (gk[i], gv[i], gd[i], gl[i]) != (
                    gk[i - 1], gv[i - 1], gd[i - 1], gl[i - 1]
                ):
                    starts.append(i)
            ends = [i - 1 for i in starts[1:]] + [n - 1]
            g_rows = []
            for si, ei in zip(starts, ends):
                k = int(gk[si])
                is_lit = k == T_LITERAL
                g_rows.append(
                    {
                        "seg": seg,
                        "frame_index": (int(rns[si]) - 1) // rows_per_frame,
                        "sort_key": int(rns[si]),
                        "minor": _MINOR_GRAPH_START,
                        "row_kind": KIND_GRAPH_START,
                        "g_kind": k,
                        "g_nid": term_ids.get(gv[si]) if k == T_IRI else None,
                        "g_pid": term_pid.get(gv[si]) if k == T_IRI else None,
                        "g_val": gv[si] if k in (T_BNODE, T_LITERAL) else None,
                        "g_dt": dt_ids.get(gd[si]) if is_lit else None,
                        "g_lang": gl[si] if is_lit else None,
                    }
                )
                g_rows.append(
                    {
                        "seg": seg,
                        "frame_index": (int(rns[ei]) - 1) // rows_per_frame,
                        "sort_key": int(rns[ei]),
                        "minor": _MINOR_GRAPH_END,
                        "row_kind": KIND_GRAPH_END,
                    }
                )
            pre_parts.append(pd.DataFrame(g_rows))

        pre = pd.concat(
            [p for p in pre_parts if p is not None], ignore_index=True
        ).reindex(columns=_PRE_COLS)

        out = []
        for fi, sub in pre.groupby("frame_index", sort=True):
            n_rows, blob = _pack_rows(sub)
            out.append((seg, int(fi), n_rows, blob))
        res = pd.DataFrame(
            out, columns=["seg", "frame_index", "n_rows", "frame_bytes"]
        )
        res["used_name"] = len(term_ids)
        res["used_prefix"] = len(pfx_ids)
        res["used_dt"] = len(dt_ids)
        return res

    return encode_segment


def _encode_segments_fused(
    ordered: DataFrame,
    physical: int,
    rows_per_frame: int,
    seg_rows: int,
    options: StreamOptions,
    prefix_table: bool,
    namespaces: list[tuple[str, str]] | None,
) -> DataFrame:
    """Per-segment encoder (see :func:`_encode_statements`): one shuffle on
    the uniform ``seg`` key, dictionaries built per-task. The frames
    are checkpointed eagerly, and that one job also observes the global
    used maxima; the options row — identical for every segment,
    declared sizes = max(configured, used) — is then prepended to each
    segment's first frame (a pure bytes concat, no re-encode)."""
    from pyspark.sql import Observation

    obs = Observation()
    enc = ordered.groupBy("seg").applyInPandas(
        _encode_segment_fn(physical, rows_per_frame, prefix_table, namespaces),
        _FRAME_USED_SCHEMA,
    ).observe(
        obs,
        F.max("used_name").alias("n"),
        F.max("used_prefix").alias("p"),
        F.max("used_dt").alias("d"),
    ).localCheckpoint()
    mx = obs.get
    if namespaces and mx["n"] is None:
        raise ValueError(
            f"{len(namespaces)} namespace declaration(s) but no statements: "
            "the encoder places declarations in the first segment, which "
            "an empty stream does not have"
        )
    declared_name = max(options.max_name_table, mx["n"] or 0, 8)
    declared_dt = max(options.max_dt_table, mx["d"] or 0, 8)
    declared_prefix = (
        max(options.max_prefix_table, mx["p"] or 0) if prefix_table else 0
    )
    version = VERSION_MAX if namespaces is not None else options.version
    blob = _options_row_blob(
        options, physical, version, declared_name, declared_prefix,
        declared_dt,
    )
    # each segment's first frame is at a deterministic global index:
    # segments are full (rns are contiguous) and seg_rows is a multiple
    # of rows_per_frame
    stride = seg_rows // rows_per_frame

    def patch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            m = pdf["frame_index"] == pdf["seg"] * stride
            if m.any():
                pdf = pdf.copy()
                pdf.loc[m, "frame_bytes"] = pdf.loc[m, "frame_bytes"].map(
                    lambda b: blob + b
                )
                pdf.loc[m, "n_rows"] += 1
            yield pdf[["seg", "frame_index", "n_rows", "frame_bytes"]]

    return enc.mapInPandas(patch, FRAME_SCHEMA)


def _encode_statements(
    spark: SparkSession,
    statements: DataFrame,
    physical: int,
    rows_per_frame: int,
    options: StreamOptions,
    prefix_table: bool,
    namespaces: DataFrame | None,
) -> DataFrame:
    """Shared TRIPLES/QUADS/GRAPHS encoder: statements → real-wire frames.

    Layout per the reference's stream contract: each segment's first
    frame starts with an options row (P10, RdfValidate.scala:118-121);
    each lookup-table entry row lands in the frame of its first use,
    before the statement that uses it. Global row order comes from the
    partition-offset rank (cli_spark.order), not a single-task window.

    ONE applyInPandas task per segment builds that segment's
    dictionaries in-task and emits its frames — a single shuffle on the
    uniform `seg` key after the global rank, no dictionary joins
    (segments are bounded by the declared name table, so per-task work
    is small and constant; segments are the embarrassingly-parallel
    unit at 100 TB, mirroring the decode side's per-segment resolver).
    ``namespaces`` is collected in its row order and handed to the
    segment-0 task (declarations are few, one per prefix directive);
    any ``namespaces`` frame, even an empty one, marks the stream
    version 2.

    Declared table sizes are max(configured, used), kept identical
    across every segment's options row (P10 later-options equality)."""
    from .order import global_row_number

    is_quads = physical == PHYSICAL_QUADS
    is_graphs = physical == PHYSICAL_GRAPHS
    nterms = 3 if physical == PHYSICAL_TRIPLES else 4
    rows_per_frame = int(rows_per_frame)
    # segment sizing guarantees nterms·seg_rows ≤ max_name_table, so
    # explicit ids respect the declared bound without eviction; when the
    # table is smaller than a frame, frames shrink to fit the segment
    # (seg_rows stays a multiple of the effective frame size so no frame
    # spans two segments). RDF-star atoms can still push past the bound,
    # in which case the DECLARED size is raised below.
    seg_rows_raw = max(1, options.max_name_table // nterms)
    rows_per_frame = min(rows_per_frame, seg_rows_raw)
    seg_rows = (seg_rows_raw // rows_per_frame) * rows_per_frame

    # statement rows carry g only for QUADS; GRAPHS carries the graph
    # out-of-band (runs), but its terms still feed the dictionaries
    feed_positions = ["s", "p", "o"] + (["g"] if (is_quads or is_graphs) else [])
    canon = _canonical_terms(statements, is_quads or is_graphs).dropDuplicates()
    keys = [c for p in feed_positions for c in _TERM_COLS(p)]
    if is_graphs:
        # graph-first ordering makes runs contiguous by construction (W3)
        keys = _TERM_COLS("g") + [c for p in ("s", "p", "o") for c in _TERM_COLS(p)]
    ordered = global_row_number(canon, keys).withColumn(
        "seg", F.floor((F.col("rn") - 1) / seg_rows).cast("long")
    )

    ns_list = (
        None if namespaces is None
        else [(r["name"], r["iri"]) for r in namespaces.collect()]
    )
    return _encode_segments_fused(
        ordered, physical, rows_per_frame, seg_rows, options, prefix_table,
        ns_list,
    )


def encode_triples(
    spark: SparkSession,
    triples: DataFrame,
    rows_per_frame: int = ROWS_PER_FRAME,
    max_name_table: int = MAX_NAME_TABLE,
    options: StreamOptions | None = None,
    prefix_table: bool = False,
    namespaces: DataFrame | None = None,
) -> DataFrame:
    """triples(subj, pred, obj, obj_kind[, obj_datatype, obj_lang]
    [, subj_kind, pred_kind][, per-term *_dt/*_lang]) → TRIPLES frames
    (S15, JellyStreamWriter via RdfToJelly.scala:130-199)."""
    opts = options or StreamOptions(
        max_name_table=max_name_table, max_dt_table=max_name_table
    )
    return _encode_statements(
        spark, triples, PHYSICAL_TRIPLES, rows_per_frame, opts,
        prefix_table, namespaces,
    )


def encode_quads(
    spark: SparkSession,
    quads: DataFrame,
    rows_per_frame: int = ROWS_PER_FRAME,
    max_name_table: int = MAX_NAME_TABLE,
    options: StreamOptions | None = None,
    prefix_table: bool = False,
    namespaces: DataFrame | None = None,
) -> DataFrame:
    """quads(subj, pred, obj, obj_kind, graph nullable[, ...]) → QUADS
    frames; NULL graph = the default graph (g_default_graph on the
    wire)."""
    opts = options or StreamOptions(
        physical_type=PHYSICAL_QUADS, max_name_table=max_name_table,
        max_dt_table=max_name_table,
    )
    return _encode_statements(
        spark, quads, PHYSICAL_QUADS, rows_per_frame, opts,
        prefix_table, namespaces,
    )


# ---------------------------------------------------------------------------
# file I/O: delimited byte stream ⇄ frames table
# ---------------------------------------------------------------------------


def write_jelly_file(
    frames: DataFrame, path: str, delimited: bool = True, append: bool = False
) -> None:
    """Concatenate frames (ordered) into one delimited binary file.
    Driver-side assembly — a .jelly artifact is a single bounded file;
    the cluster-scale representation stays the frames table.
    ``append`` mirrors the reference's append-mode sink (S3,
    IoUtil.scala:30-36): appended frames form a concatenated stream,
    which is legal input (U1)."""
    import io as _io

    rows = collect_sorted(
        frames.select("seg", "frame_index", "frame_bytes"), ["seg", "frame_index"]
    )
    mode = "ab" if append else "wb"
    with open(path, mode) as fh:
        for r in rows:
            if delimited:
                buf = _io.BytesIO()
                JW.write_varint(buf, len(r.frame_bytes))
                fh.write(buf.getvalue())
            fh.write(r.frame_bytes)


def probe_delimited(path: str) -> bool:
    """Delimiting autodetect (S9, JellyUtil.scala:24-40): a delimited
    file starts with a varint frame length; a non-delimited one starts
    directly with the frame's 0x0A row tag."""
    with open(path, "rb") as fh:
        head = fh.read(10)
    if not head:
        raise ValueError("empty stream")
    return head[0] != 0x0A


def read_jelly_file(spark: SparkSession, path: str) -> DataFrame:
    """Binary file(s) → frames table via binaryFile scan + frame
    splitting. Each FILE gets its own synthetic segment id (files are
    independent sequential streams — 'concatenated streams are valid
    input' U1), so per-segment resolution in decode_frames parallelizes
    across files."""
    raw = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "content")
        .withColumn("file_seg", F.monotonically_increasing_id())
    )

    def split(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for seg, content in zip(pdf["file_seg"], pdf["content"]):
                data = bytes(content)
                if not data:
                    continue
                _, blobs = JW.split_delimited(data)
                for idx, blob in enumerate(blobs):
                    out.append((int(seg), idx, -1, blob))
            yield pd.DataFrame(
                out, columns=["seg", "frame_index", "n_rows", "frame_bytes"]
            )

    return raw.mapInPandas(split, FRAME_SCHEMA)


def frame_metadata(frames: DataFrame) -> DataFrame:
    """(seg, frame_index, key, value_hex) — one row per frame-metadata
    entry (Jelly v1.1 frame field 15). Rows are not decoded: the kernel
    runs jellywire.decode_frame_metadata's tag-walk only, so the scan is
    O(frame bytes) with zero dictionary state — the same cheap-companion
    shape as the P4 tag peek. Hex rendering matches the reference's
    inspect output (MetricsPrinter.scala:340-351)."""

    def scan(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for seg, fi, blob in zip(
                pdf["seg"], pdf["frame_index"], pdf["frame_bytes"]
            ):
                for k, v in JW.decode_frame_metadata(bytes(blob)):
                    out.append((int(seg), int(fi), k, v.hex()))
            yield pd.DataFrame(
                out, columns=["seg", "frame_index", "key", "value_hex"]
            )

    return frames.mapInPandas(
        scan, "seg long, frame_index long, key string, value_hex string"
    )


def frame_wire_size_stats(frames: DataFrame) -> DataFrame:
    """(seg, frame_index, frame_count, frame_size, row_count, row_size,
    ..., datatype_count, datatype_size) — both statistics of the
    reference's inspect printer per frame (CountStatistic and the exact
    SizeStatistic, MetricsPrinter.scala:13-27), from jellywire's rows-free
    tag-walk over the frame bytes. One zero-shuffle pass; no resolver, no
    dictionary state, and every frame gets a row, empty ones included.
    ``rdf inspect`` picks the ``_count`` or ``_size`` columns. The name
    predates the count columns and stays because the benchmark's tracer
    calls it."""
    cols = [f"{n}_{s}" for n in JW.STAT_NAMES for s in ("count", "size")]

    def scan(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for seg, fi, blob in zip(
                pdf["seg"], pdf["frame_index"], pdf["frame_bytes"]
            ):
                count, size = JW.frame_stats(bytes(blob))
                out.append(
                    (int(seg), int(fi)) + sum(zip(count, size), ())
                )
            yield pd.DataFrame(out, columns=["seg", "frame_index", *cols])

    schema = "seg long, frame_index long, " + ", ".join(
        f"{c} long" for c in cols
    )
    return frames.mapInPandas(scan, schema)


def frame_wire_term_sizes(frames: DataFrame) -> DataFrame:
    """(seg, frame_index, term_pos, node_kind, count, size) — per-term
    statistics for inspect --detail (NodeDetailInfo): ``count`` is the
    number of explicitly-encoded terms, ``size`` their wire size
    (message terms measure their embedded serialized size, bnode strings
    measure computeStringSizeNoTag, quoted-triple terms count once at
    the embedded message size, no recursion). Zero-shuffle scan + one
    map-side-combinable groupBy."""

    def scan(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for seg, fi, blob in zip(
                pdf["seg"], pdf["frame_index"], pdf["frame_bytes"]
            ):
                for pos_label, kind_label, size in JW.frame_term_sizes(
                    bytes(blob)
                ):
                    out.append((int(seg), int(fi), pos_label, kind_label, size))
            yield pd.DataFrame(
                out,
                columns=["seg", "frame_index", "term_pos", "node_kind", "sz"],
            )

    melted = frames.mapInPandas(
        scan,
        "seg long, frame_index long, term_pos string, node_kind string, sz long",
    )
    return melted.groupBy("seg", "frame_index", "term_pos", "node_kind").agg(
        F.count(F.lit(1)).alias("count"), F.sum("sz").alias("size")
    )


def options_from_file(path: str) -> StreamOptions:
    """Options-from-file (S11, RdfToJelly.scala:82-89): read the first
    frame of an existing stream and copy its options row. Pure
    driver-side I/O — only the leading frames are read, and only their
    options rows are parsed (:func:`jellywire.peek_options`)."""
    with open(path, "rb") as fh:
        if not fh.peek(1):
            raise ValueError("empty stream")
        for blob in JW.read_frames(fh):
            for row in JW.peek_options(blob):
                return StreamOptions(
                    version=row["version"],
                    physical_type=row["physical"],
                    logical_type=row["logical"],
                    generalized=row["generalized"],
                    rdf_star=row["rdf_star"],
                    stream_name=row["stream_name"],
                    max_name_table=row["max_name"],
                    max_prefix_table=row["max_prefix"],
                    max_dt_table=row["max_dt"],
                )
            if blob:  # only scan leading empty frames past the first
                break
    raise ValueError(f"no options row in the first frame of {path}")


# ---------------------------------------------------------------------------
# decode: frames table → resolved rows table → statements
# ---------------------------------------------------------------------------


def decode_frames(frames: DataFrame) -> DataFrame:
    """frames → fully-resolved rows table. One sequential resolution
    pass per SEGMENT (applyInPandas grouped by seg): segments are
    bounded for our own streams and one-per-file for imports, so the
    sequential unit is small and segments run embarrassingly parallel.
    The resolver is lenient about declared table bounds, like
    jelly-jvm's default reader; ``compare.validate_stream`` reports
    entry ids above them (P8)."""

    # column slot positions for the tuned row materialization below
    _POS_COLS = {
        "s": ("subj", "subj_kind", "subj_dt", "subj_lang"),
        "p": ("pred", "pred_kind", "pred_dt", "pred_lang"),
        "o": ("obj", "obj_kind", "obj_datatype", "obj_lang"),
        "g": ("graph", "graph_kind", "graph_dt", "graph_lang"),
    }
    _IDX = {c: i for i, c in enumerate(_ROW_COLS)}
    _NCOLS = len(_ROW_COLS)

    def resolve(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        pdf = pdf.sort_values("frame_index")
        seg = int(pdf["seg"].iloc[0])
        state = JW.StreamState()
        rows_out: list[list] = []
        idx = _IDX
        i_seg, i_frame, i_pos, i_kind = (
            idx["seg"], idx["frame_index"], idx["row_pos"], idx["row_kind"]
        )
        pos_idx = {p: tuple(idx[c] for c in cs) for p, cs in _POS_COLS.items()}
        i_name_id, i_name, i_aux = idx["name_id"], idx["name"], idx["aux"]
        opt_idx = tuple(
            idx[c] for c in (
                "opt_version", "opt_physical", "opt_logical", "opt_flags",
                "opt_max_name", "opt_max_prefix", "opt_max_dt",
            )
        )
        for frame_index, blob in zip(pdf["frame_index"], pdf["frame_bytes"]):
            fi = int(frame_index)
            for row_pos, raw in enumerate(JW.decode_frame(bytes(blob))):
                row = state.resolve_row(raw)
                rec = [None] * _NCOLS
                kind = row["kind"]
                rec[i_seg], rec[i_frame], rec[i_pos], rec[i_kind] = (
                    seg, fi, row_pos, kind
                )
                if kind in (KIND_TRIPLE, KIND_QUAD):
                    for p in ("s", "p", "o", "g"):
                        t = row.get(p)
                        if t is not None:
                            iv, ik, idt, il = pos_idx[p]
                            rec[iv], rec[ik], rec[idt], rec[il] = t
                elif kind in (KIND_NAME, KIND_PREFIX, KIND_DATATYPE):
                    rec[i_name_id], rec[i_name] = row["id"], row["value"]
                elif kind == KIND_OPTIONS:
                    rec[i_aux] = row["stream_name"]
                    flags = (1 if row["generalized"] else 0) | (
                        2 if row["rdf_star"] else 0
                    )
                    for j, v in zip(opt_idx, (
                        row["version"], row["physical"], row["logical"], flags,
                        row["max_name"], row["max_prefix"], row["max_dt"],
                    )):
                        rec[j] = v
                elif kind == KIND_GRAPH_START:
                    iv, ik, idt, il = pos_idx["g"]
                    rec[iv], rec[ik], rec[idt], rec[il] = row["g"]
                elif kind == KIND_NAMESPACE:
                    rec[i_name], rec[i_aux] = row["name"], row["iri"]
                rows_out.append(rec)
        return pd.DataFrame(rows_out, columns=_ROW_COLS)

    return frames.groupBy("seg").applyInPandas(resolve, ROW_SCHEMA)


def physical_types_metric() -> Column:
    """Aggregate: the distinct physical types declared by a rows table's
    options rows, for a job that already reads the rows to carry as an
    ``observe()`` metric."""
    return F.collect_set(
        F.when(F.col("row_kind") == KIND_OPTIONS, F.col("opt_physical"))
    )


def _raise_physical(bad: set[int], context: str) -> None:
    names = {1: "TRIPLES", 2: "QUADS", 3: "GRAPHS"}
    raise ValueError(
        f"stream physical type {sorted(names.get(b, b) for b in bad)} "
        f"cannot be written to {context}; use --merge-graphs to drop "
        f"graph names or choose a quad-capable format"
    )


def peek_physical_types(frames: DataFrame) -> set[int]:
    """Distinct declared physical types, read from the FRAMES with the
    tag-peek scanner (`jellywire.peek_options`): one varint per row, a
    parse per options row, no dictionary resolution."""

    def peek(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            phys = sorted(
                {
                    o["physical"]
                    for blob in pdf["frame_bytes"]
                    for o in JW.peek_options(bytes(blob))
                }
            )
            yield pd.DataFrame({"physical": pd.array(phys, dtype="Int64")})

    return {
        r[0]
        for r in frames.mapInPandas(peek, "physical long").distinct().collect()
    }


def namespace_declarations(rows: DataFrame) -> DataFrame:
    """(name, iri) namespace declarations carried by the stream
    (RdfFromJelly.scala:133-140 passthrough)."""
    return rows.filter(F.col("row_kind") == KIND_NAMESPACE).select(
        F.col("name"), F.col("aux").alias("iri")
    )


def decode_triples(
    rows: DataFrame, take_frames: tuple[int, int] | None = None
) -> DataFrame:
    """resolved rows table → triples. Frame slicing (P1/P2
    --take-frames) filters AFTER resolution, so skipped frames still
    contributed dictionary state exactly like the reference's
    state-preserving skip (RdfFromJelly.scala:166-177). The P4 guard is
    the caller's: :func:`peek_physical_types` on the frames, or
    :func:`physical_types_metric` observed on the decode."""
    trips = rows.filter(F.col("row_kind") == KIND_TRIPLE)
    if take_frames is not None:
        lo, hi = take_frames
        trips = trips.filter(F.col("frame_index").between(lo, hi))
    return trips.select(
        "subj", "pred", "obj", "obj_kind", "obj_datatype", "obj_lang",
        "subj_kind", "pred_kind",
        "subj_dt", "subj_lang", "pred_dt", "pred_lang",
        "frame_index",
    )


def decode_quads(
    rows: DataFrame, take_frames: tuple[int, int] | None = None
) -> DataFrame:
    """QUADS rows table → quads; default graph ⇒ graph NULL (and
    graph_kind NULL, the flat-model convention)."""
    qs = rows.filter(F.col("row_kind") == KIND_QUAD)
    if take_frames is not None:
        lo, hi = take_frames
        qs = qs.filter(F.col("frame_index").between(lo, hi))
    return _select_quad_cols(qs)


def _select_quad_cols(qs: DataFrame) -> DataFrame:
    """Full quad projection: every term position keeps its kind and
    datatype/langtag annotations; default graph ⇒ all graph cols NULL."""
    not_default = F.col("graph_kind") != T_DEFAULT_GRAPH
    return qs.select(
        "subj", "pred", "obj", "obj_kind",
        F.when(not_default, F.col("graph")).alias("graph"),
        "obj_datatype", "obj_lang", "subj_kind", "pred_kind",
        F.when(not_default, F.col("graph_kind")).alias("graph_kind"),
        "subj_dt", "subj_lang", "pred_dt", "pred_lang",
        F.when(not_default, F.col("graph_dt")).alias("graph_dt"),
        F.when(not_default, F.col("graph_lang")).alias("graph_lang"),
        "frame_index",
    )


def decode_quads_graphs(rows: DataFrame) -> DataFrame:
    """GRAPHS rows table → quads: the resolver attaches the enclosing
    GraphStart's graph to each triple row (the reference decoder's
    `currentGraph` state), so this is a pure filter+select. Carries the
    same full projection as :func:`decode_quads` — typed/langtagged
    literals must survive a GRAPHS-physical decode too."""
    return _select_quad_cols(rows.filter(F.col("row_kind") == KIND_TRIPLE))


def roundtrip(spark: SparkSession, triples: DataFrame, **kw) -> DataFrame:
    """encode → decode, for equivalence gates (SURVEY §5 pillar 2).
    No P4 guard: :func:`encode_triples` always declares TRIPLES."""
    return decode_triples(decode_frames(encode_triples(spark, triples, **kw)))


def roundtrip_quads(spark: SparkSession, quads: DataFrame, **kw) -> DataFrame:
    """QUADS encode → decode identity."""
    return decode_quads(decode_frames(encode_quads(spark, quads, **kw)))


# ---------------------------------------------------------------------------
# Jelly-text format (S10): REAL protobuf TextFormat of the frames —
# what the reference's TextFormat printer/parser speaks
# (RdfFromJellySpec.scala:150-163 shows the expected text; parse chunks
# rows at lines starting '}', RdfToJelly.scala:261-291).
# ---------------------------------------------------------------------------


def render_jelly_text(frames: DataFrame) -> DataFrame:
    """frames → (seg, frame_index, text): one TextFormat block per
    frame, frame-parallel."""

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for seg, frame_index, blob in zip(
                pdf["seg"], pdf["frame_index"], pdf["frame_bytes"]
            ):
                rows = JW.decode_frame(bytes(blob))
                out.append((int(seg), int(frame_index), JW.render_frame_text(rows)))
            yield pd.DataFrame(out, columns=["seg", "frame_index", "text"])

    return frames.mapInPandas(render, "seg long, frame_index long, text string")


def parse_jelly_text(texts: DataFrame) -> DataFrame:
    """(seg, frame_index, text) → frames table (inverse of
    render_jelly_text), frame-parallel."""

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for seg, frame_index, text in zip(
                pdf["seg"], pdf["frame_index"], pdf["text"]
            ):
                rows = JW.parse_frame_text(text)
                out.append((int(seg), int(frame_index), len(rows), JW.encode_frame(rows)))
            yield pd.DataFrame(
                out, columns=["seg", "frame_index", "n_rows", "frame_bytes"]
            )

    return texts.mapInPandas(parse, FRAME_SCHEMA)


def write_jelly_text_file(frames: DataFrame, path: str) -> None:
    """Jelly-text sink: reference-style file with `# Frame N` headers
    (bounded-artifact path, like write_jelly_file)."""
    rows = collect_sorted(render_jelly_text(frames), ["seg", "frame_index"])
    with open(path, "w", encoding="utf-8") as fh:
        for n, r in enumerate(rows):
            fh.write(f"# Frame {n}\n")
            fh.write(r.text + "\n")


def read_jelly_text_file(
    spark: SparkSession, path: str, rows_per_frame: int = ROWS_PER_FRAME
) -> DataFrame:
    """Jelly-text source → frames table. Mirrors the reference's parser
    (RdfToJelly.scala:261-291): rows chunk at lines starting '}',
    comments are TextFormat-legal, and rows regroup into frames of
    ``rows_per_frame``."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    buf: list[str] = []
    row_blocks: list[str] = []
    for line in text.splitlines():
        buf.append(line)
        if line.startswith("}"):
            row_blocks.append("\n".join(buf))
            buf = []
    rows = [JW.parse_frame_text(b) for b in row_blocks if b.strip()]
    rows = [r[0] for r in rows if r]
    frames = []
    for i in range(0, len(rows), rows_per_frame):
        chunk = rows[i : i + rows_per_frame]
        frames.append(
            (0, i // rows_per_frame, len(chunk), bytearray(JW.encode_frame(chunk)))
        )
    return spark.createDataFrame(frames, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# transcode fast path (§2.11, RdfTranscode.scala:57-82): pure integer
# dictionary-id remap — no term decode, no string joins anywhere
# ---------------------------------------------------------------------------


def _explicitize_rows(rows: list[dict]) -> tuple[list[dict], dict]:
    """Raw wire rows (one stream, in order) → rows with every implicit
    id made explicit and every elided term filled in, WITHOUT resolving
    values — the id-level normalization that makes blocks safely
    concatenable (a block boundary must not inherit sequencing state
    from another stream). Returns (rows, maxima)."""
    last = {KIND_NAME: 0, KIND_PREFIX: 0, KIND_DATATYPE: 0}
    maxima = {KIND_NAME: 0, KIND_PREFIX: 0, KIND_DATATYPE: 0}
    last_nid = 0
    last_pid = 0
    prev_terms: dict[str, dict | None] = {"s": None, "p": None, "o": None, "g": None}
    out = []

    def fix_term(t):
        nonlocal last_nid, last_pid
        if t is None:
            return None
        k = t["k"]
        if k == JW.T_IRI:
            nid = t.get("nid") or (last_nid + 1)
            pid = t.get("pid") or last_pid
            last_nid, last_pid = nid, pid
            return {"k": k, "nid": nid, "pid": pid}
        if k == JW.T_QUOTED:
            return {
                "k": k,
                "s": fix_term(t.get("s")),
                "p": fix_term(t.get("p")),
                "o": fix_term(t.get("o")),
            }
        return t

    options = None
    for row in rows:
        kind = row["kind"]
        if kind == KIND_OPTIONS:
            options = row
            last = {KIND_NAME: 0, KIND_PREFIX: 0, KIND_DATATYPE: 0}
            last_nid = last_pid = 0
            prev_terms = {"s": None, "p": None, "o": None, "g": None}
            out.append(row)
        elif kind in (KIND_NAME, KIND_PREFIX, KIND_DATATYPE):
            eid = row["id"] or (last[kind] + 1)
            last[kind] = eid
            maxima[kind] = max(maxima[kind], eid)
            out.append({"kind": kind, "id": eid, "value": row["value"]})
        elif kind in (KIND_TRIPLE, KIND_QUAD):
            new = {"kind": kind}
            for key in ("s", "p", "o") + (("g",) if kind == KIND_QUAD else ()):
                t = row.get(key)
                if t is None:
                    new[key] = prev_terms[key]
                else:
                    new[key] = fix_term(t)
                    prev_terms[key] = new[key]
            out.append(new)
        elif kind == KIND_GRAPH_START:
            out.append({"kind": kind, "g": fix_term(row["g"])})
        elif kind == KIND_NAMESPACE:
            out.append({**row, "iri": fix_term(row.get("iri") or {"k": JW.T_IRI})})
        else:
            out.append(row)

    # A residual pid 0 means "no prefix" in ITS stream, but in the merged
    # stream (prefix table enabled) pid 0 would mean "same as previous
    # IRI" and leak a neighbor block's prefix. Rewrite pid-0 IRIs to an
    # explicit empty-prefix entry, injected right after the options row.
    def has_zero_pid(t):
        if t is None:
            return False
        if t["k"] == JW.T_IRI:
            return t.get("pid", 0) == 0
        if t["k"] == JW.T_QUOTED:
            return any(has_zero_pid(t.get(x)) for x in ("s", "p", "o"))
        return False

    def any_zero(row):
        return any(
            has_zero_pid(row.get(x)) for x in ("s", "p", "o", "g", "iri")
        )

    if any(r["kind"] in (KIND_TRIPLE, KIND_QUAD, KIND_GRAPH_START, KIND_NAMESPACE)
           and any_zero(r) for r in out):
        empty_pid = maxima[KIND_PREFIX] + 1
        maxima[KIND_PREFIX] = empty_pid

        def fill_pid(t):
            if t is None:
                return None
            if t["k"] == JW.T_IRI and t.get("pid", 0) == 0:
                return {**t, "pid": empty_pid}
            if t["k"] == JW.T_QUOTED:
                return {
                    "k": t["k"],
                    "s": fill_pid(t.get("s")),
                    "p": fill_pid(t.get("p")),
                    "o": fill_pid(t.get("o")),
                }
            return t

        fixed_out = []
        injected = False
        entry = {"kind": KIND_PREFIX, "id": empty_pid, "value": ""}
        for r in out:
            if not injected and r["kind"] != KIND_OPTIONS:
                fixed_out.append(entry)
                injected = True
            if r["kind"] in (KIND_TRIPLE, KIND_QUAD):
                new = {"kind": r["kind"]}
                for x in ("s", "p", "o", "g"):
                    if x in r:
                        new[x] = fill_pid(r[x])
                fixed_out.append(new)
            elif r["kind"] == KIND_GRAPH_START:
                fixed_out.append({"kind": r["kind"], "g": fill_pid(r["g"])})
            elif r["kind"] == KIND_NAMESPACE:
                fixed_out.append({**r, "iri": fill_pid(r.get("iri"))})
            else:
                fixed_out.append(r)
        if not injected:
            fixed_out.append(entry)
        out = fixed_out
    maxima["options"] = options
    return out, maxima


def _shift_ids(rows: list[dict], name_off: int, prefix_off: int, dt_off: int):
    """Explicitized rows → rows with table ids shifted by the block
    offsets (statement refs follow the same arithmetic)."""

    def shift_term(t):
        if t is None:
            return None
        k = t["k"]
        if k == JW.T_IRI:
            return {
                "k": k,
                "nid": t["nid"] + name_off if t["nid"] else 0,
                "pid": t["pid"] + prefix_off if t["pid"] else 0,
            }
        if k == JW.T_LITERAL:
            return {**t, "dt": t["dt"] + dt_off if t.get("dt") else 0}
        if k == JW.T_QUOTED:
            return {
                "k": k,
                "s": shift_term(t.get("s")),
                "p": shift_term(t.get("p")),
                "o": shift_term(t.get("o")),
            }
        return t

    out = []
    for row in rows:
        kind = row["kind"]
        if kind == KIND_NAME:
            out.append({**row, "id": row["id"] + name_off})
        elif kind == KIND_PREFIX:
            out.append({**row, "id": row["id"] + prefix_off})
        elif kind == KIND_DATATYPE:
            out.append({**row, "id": row["id"] + dt_off})
        elif kind in (KIND_TRIPLE, KIND_QUAD):
            new = {"kind": kind}
            for key in ("s", "p", "o", "g"):
                if key in row:
                    new[key] = shift_term(row[key])
            out.append(new)
        elif kind == KIND_GRAPH_START:
            out.append({"kind": kind, "g": shift_term(row["g"])})
        elif kind == KIND_NAMESPACE:
            out.append({**row, "iri": shift_term(row.get("iri"))})
        elif kind != KIND_OPTIONS:  # input options rows are dropped
            out.append(row)
    return out


def transcode_frames(
    spark: SparkSession,
    frames_list: list[DataFrame],
    rows_per_frame: int = ROWS_PER_FRAME,
    max_name_table: int | None = None,
    max_prefix_table: int | None = None,
    stream_name: str | None = None,
    logical_type: int | None = None,
) -> DataFrame:
    """Concatenate N Jelly streams into ONE output stream by remapping
    lookup-table ids — the reference's transcode fast path
    (RdfTranscode.scala:57-82): no term strings are ever decoded or
    joined. Each input (stream, seg) block is id-explicitized (a pure
    integer pass per segment, parallel across segments), output ids are
    ``old_id + block_offset`` per table, and one merged options row
    heads the stream.

    The output declares ``max(required, max_name_table)`` table sizes;
    an explicit ``max_name_table`` smaller than required raises,
    mirroring the output-size ≥ input-size precondition
    (RdfTranscodeSpec.scala:86)."""
    tagged = None
    for i, frames in enumerate(frames_list):
        t = frames.withColumn("stream", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)
    # read by the maxima pass here and by the returned shift pass
    tagged = tagged.localCheckpoint()

    # pass 1: per-block maxima + frame counts + options (id-level parse)
    def maxima_fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        pdf = pdf.sort_values("frame_index")
        rows = []
        for blob in pdf["frame_bytes"]:
            rows.extend(JW.decode_frame(bytes(blob)))
        _, mx = _explicitize_rows(rows)
        opt = mx["options"] or {}
        return pd.DataFrame(
            {
                "stream": [int(pdf["stream"].iloc[0])],
                "seg": [int(pdf["seg"].iloc[0])],
                "mn": [mx[KIND_NAME]],
                "mp": [mx[KIND_PREFIX]],
                "md": [mx[KIND_DATATYPE]],
                "n_frames": [len(pdf)],
                "physical": [opt.get("physical", 0)],
                "flags": [
                    (1 if opt.get("generalized") else 0)
                    + (2 if opt.get("rdf_star") else 0)
                ],
                "logical": [opt.get("logical", 0)],
            }
        )

    stats = {
        (r["stream"], r["seg"]): r
        for r in tagged.groupBy("stream", "seg")
        .applyInPandas(
            maxima_fn,
            "stream int, seg long, mn long, mp long, md long, n_frames int, "
            "physical int, flags int, logical int",
        )
        .collect()
    }
    phys = {r["physical"] for r in stats.values()} - {0}
    if len(phys) > 1:
        raise ValueError(
            f"cannot transcode streams of mixed physical types {sorted(phys)}"
        )
    physical = next(iter(phys), PHYSICAL_TRIPLES)
    flags = 0
    for r in stats.values():
        flags |= r["flags"]

    offsets = {}
    name_off = prefix_off = dt_off = frame_off = 0
    for key in sorted(stats):
        r = stats[key]
        offsets[key] = (name_off, prefix_off, dt_off, frame_off)
        name_off += r["mn"]
        prefix_off += r["mp"]
        dt_off += r["md"]
        frame_off += r["n_frames"]
    required = name_off
    out_max = max(required, max_name_table or MAX_NAME_TABLE, 8)
    if max_name_table is not None and max_name_table < required:
        raise ValueError(
            f"output name table size {max_name_table} is smaller than the "
            f"{required} entries the inputs carry (output table must be at "
            f"least as large as every input's — RdfTranscodeSpec.scala:86)"
        )
    out_prefix = max(prefix_off, max_prefix_table or MAX_PREFIX_TABLE)
    if max_prefix_table is not None and max_prefix_table < prefix_off:
        raise ValueError(
            f"output prefix table size {max_prefix_table} is smaller than "
            f"the {prefix_off} entries the inputs carry (same precondition "
            f"as the name table — RdfTranscodeSpec.scala:86)"
        )
    out_opts = {
        "kind": KIND_OPTIONS,
        "stream_name": stream_name or "",
        "physical": physical,
        "generalized": bool(flags & 1),
        "rdf_star": bool(flags & 2),
        # output logical type is declarable (the reference's transcode
        # takes the full opt.* group); flags stay the OR of the inputs —
        # narrowing them could declare a stream that violates its rows
        "logical": logical_type or 0,
        "version": VERSION,
        "max_name": out_max,
        "max_prefix": out_prefix,
        "max_dt": max(out_max, dt_off),
    }
    bc = spark.sparkContext.broadcast((offsets, out_opts))

    # pass 2: explicitize + shift + re-emit frames (1:1 frame mapping,
    # renumbered; the merged options row heads frame 0)
    def shift_fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        offs, opts_row = bc.value
        pdf = pdf.sort_values("frame_index")
        key = (int(pdf["stream"].iloc[0]), int(pdf["seg"].iloc[0]))
        n_off, p_off, d_off, f_off = offs[key]
        rows = []
        bounds = []
        metas = []
        for blob in pdf["frame_bytes"]:
            data = bytes(blob)
            parsed = JW.decode_frame(data)
            bounds.append(len(parsed))
            # frame metadata rides the 1:1 frame mapping through the
            # id-remap untouched (it is opaque frame-level payload,
            # not dictionary state)
            metas.append(JW.decode_frame_metadata(data))
            rows.extend(parsed)
        fixed, _ = _explicitize_rows(rows)
        shifted = _shift_ids(fixed, n_off, p_off, d_off)  # drops options rows
        # rebuild frames 1:1 with the input, using per-frame
        # non-options row counts (input options rows were dropped; an
        # injected empty-prefix entry goes to the first non-empty frame)
        takes, in_pos = [], 0
        for n in bounds:
            takes.append(
                sum(
                    1 for row in rows[in_pos : in_pos + n]
                    if row["kind"] != KIND_OPTIONS
                )
            )
            in_pos += n
        extra = len(shifted) - sum(takes)
        if extra:
            for j, t in enumerate(takes):
                if t > 0 or j == len(takes) - 1:
                    takes[j] += extra
                    break
        out, out_pos = [], 0
        for i, non_opt in enumerate(takes):
            chunk = shifted[out_pos : out_pos + non_opt]
            out_pos += non_opt
            if f_off + i == 0:
                chunk = [opts_row] + chunk
            out.append(
                (
                    0,
                    f_off + i,
                    len(chunk),
                    bytearray(JW.encode_frame(chunk, metadata=metas[i])),
                )
            )
        return pd.DataFrame(
            out, columns=["seg", "frame_index", "n_rows", "frame_bytes"]
        )

    return tagged.groupBy("stream", "seg").applyInPandas(shift_fn, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# GRAPHS physical type (S16): graph-run boundary encoding
# ---------------------------------------------------------------------------


def encode_quads_graphs(
    spark: SparkSession,
    quads: DataFrame,
    rows_per_frame: int = ROWS_PER_FRAME,
    max_name_table: int = MAX_NAME_TABLE,
    options: StreamOptions | None = None,
    namespaces: DataFrame | None = None,
) -> DataFrame:
    """quads(subj, pred, obj, obj_kind, graph nullable) → frames, GRAPHS
    physical type (JellyStreamWriterGraphs.scala:19-95): statements are
    grouped into graph RUNS delimited by GraphStart/GraphEnd rows;
    triple rows inside a run carry no graph term.

    The reference detects runs with sequential encoder state (`lastGraph`
    compare, :57-72); here the stream is ordered (graph, s, p, o) so runs
    are contiguous by construction, and each segment task finds the
    boundary rows at the change points of its graph column. Dictionary,
    segmenting, frame
    assignment, and the real-wire frame codec are shared with the
    TRIPLES/QUADS encoder (GRAPHS mode in _encode_statements)."""
    opts = options or StreamOptions(
        physical_type=PHYSICAL_GRAPHS, max_name_table=max_name_table,
        max_dt_table=max_name_table,
    )
    return _encode_statements(
        spark, quads, PHYSICAL_GRAPHS, rows_per_frame, opts,
        prefix_table=False, namespaces=namespaces,
    )
