"""No driver-bound result in `cli_spark` is sorted by Spark.

``df.orderBy(...).collect()`` (or ``.toLocalIterator()``) makes Spark run
the plan below the sort twice: once to sample the range bounds and once
to sort, Python UDF passes included. Such results go through
``order.collect_sorted``, which collects once and sorts on the driver.

The scan flags every ``.collect()`` / ``.toLocalIterator()`` whose
receiver chain reaches an ``.orderBy(...)`` or ``.sort(...)`` with no
``.limit(...)`` after it (a top-N sort is one pass). A receiver that is
a local name follows that name's assignments in the same top-level
definition. The ``@query`` battery is exempt: its queries return ordered
DataFrames for the oracle compare. Pure ``ast``, no Spark.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COLLECTS = {"collect", "toLocalIterator"}
SORTS = {"orderBy", "sort"}


def _is_query(node):
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in getattr(node, "decorator_list", ())
    )


def _assignments(node):
    """name -> every value assigned to it anywhere in ``node``."""
    out = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Assign):
            for t in n.targets:
                if isinstance(t, ast.Name):
                    out.setdefault(t.id, []).append(n.value)
    return out


def _sorted_by_spark(node, assigns, seen):
    while True:
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "limit":
                return False
            if node.func.attr in SORTS:
                return True
            node = node.func.value
        elif isinstance(node, ast.Attribute):
            node = node.value
        elif isinstance(node, ast.Name) and node.id in assigns and node.id not in seen:
            seen.add(node.id)
            return any(_sorted_by_spark(v, assigns, seen) for v in assigns[node.id])
        else:
            return False


def spark_sorted_collects(paths):
    """``path:line`` of every flagged collect in ``paths``."""
    hits = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        for top in tree.body:
            if _is_query(top):
                continue
            assigns = _assignments(top)
            for n in ast.walk(top):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr in COLLECTS
                    and _sorted_by_spark(n.func.value, assigns, set())
                ):
                    hits.append(f"{os.path.relpath(path, ROOT)}:{n.lineno}")
    return hits


def test_no_spark_sort_before_driver_collect():
    paths = sorted(glob.glob(os.path.join(ROOT, "cli_spark", "**", "*.py"), recursive=True))
    hits = spark_sorted_collects(paths)
    assert not hits, "orderBy(...) collected to the driver:\n" + "\n".join(hits)


def test_scan_flags_the_sort_shapes(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "def direct(df):\n"
        "    return df.orderBy('k').select('v').collect()\n"
        "def via_name(df):\n"
        "    out = df.sort('k')\n"
        "    return list(out.select('v').toLocalIterator())\n"
        "def top_n(df):\n"
        "    return df.orderBy('k').limit(3).collect()\n"
        "def driver_sort(df):\n"
        "    rows = df.collect()\n"
        "    rows.sort(key=len)\n"
        "    return rows\n"
        "@query(name='q')\n"
        "def battery(df):\n"
        "    return df.orderBy('k').collect()\n"
    )
    assert spark_sorted_collects([str(src)]) == [
        os.path.relpath(str(src), ROOT) + ":2",
        os.path.relpath(str(src), ROOT) + ":5",
    ]
