"""Every top-level definition in `cli_spark` is reached by some workload.

The roots are the module-level code and the decorated functions (the
``@query`` battery) of ``cli_spark``, ``bench.py``, ``__spark_entry__.py``,
``scripts/*.py`` and ``perfbench/*.py``. A root or a reached definition
reaches every name it uses in code (``Name`` ids, ``Attribute`` attrs);
``from x import a as b`` makes a use of ``b`` reach ``a``. Names in strings
and docstrings do not count. Names are matched by name, not by module, so a
reused name keeps every definition of it alive: the check errs toward
keeping code. Pure ``ast``, no Spark.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Definitions no workload reaches but tests check live code against.
KEEP = {
    "rdfproto.encode_statement": "per-row reference that encode_batch must match",
    "rdfthrift.encode_statement": "per-row reference that encode_batch must match",
    "curation.pack_sequences_nextfit": "sequential reference for the distributed pack_bins order",
    "bpe.detokenize": "inverse that proves the live encode_word round-trips",
    "jellywire.write_delimited": "inverse of the live split_delimited",
}


def _sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "cli_spark", "**", "*.py"), recursive=True))
    extra = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    extra += sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))
    extra += sorted(
        p for p in glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
        if not os.path.basename(p).startswith("test_")
    )
    return lib, extra


def _uses(node, aliases):
    """Names ``node`` uses in code; import aliases are recorded, not used."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            for a in n.names:
                if a.asname:
                    aliases.setdefault(a.asname, set()).add(a.name)
    return out


def unreached():
    lib, extra = _sources()
    defs = {}  # name -> [(label, node)]
    aliases = {}
    frontier = set()
    for path in lib + extra:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        in_lib = path in lib
        for node in tree.body:
            is_def = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            if is_def and not node.decorator_list:
                label = os.path.relpath(path, ROOT) + ":" + node.name
                defs.setdefault(node.name, []).append((label, node, in_lib))
                _uses(node, aliases)  # record aliases only
            else:
                frontier |= _uses(node, aliases)
    seen = set()
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        frontier |= aliases.get(name, set())
        for _label, node, _in_lib in defs.get(name, ()):
            frontier |= _uses(node, aliases)
    return sorted(
        label
        for name, entries in defs.items()
        if name not in seen
        for label, _node, in_lib in entries
        if in_lib
    )


def _keep_key(label):
    path, name = label.split(":")
    return os.path.splitext(os.path.basename(path))[0] + "." + name


def test_every_cli_spark_definition_is_reached():
    dead = [label for label in unreached() if _keep_key(label) not in KEEP]
    assert not dead, "unreached top-level definitions:\n" + "\n".join(dead)


def test_keep_list_is_live():
    # a keep entry whose definition is gone, or now reached, is stale
    missing = set(KEEP) - {_keep_key(label) for label in unreached()}
    assert not missing, sorted(missing)
