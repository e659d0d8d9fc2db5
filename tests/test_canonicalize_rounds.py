"""Connected components by local contraction across several rounds.

Under the sessions' AQE coalescing every small edge set lands in one task
and closes in one round, so these tests force 8 uncoalesced shuffle
partitions to spread the edges over tasks and run the multi-round path.
Each result is checked against a union-find on the driver."""

from __future__ import annotations

import math
import random
from contextlib import contextmanager

import pytest

from cli_spark import canonicalize as C
from cli_spark.manifest import job_group

SPREAD = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


@contextmanager
def _conf(spark, settings):
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _chain(n, shuffled):
    names = [f"kg:n{i:04d}" for i in range(n)]
    if shuffled:
        random.Random(n).shuffle(names)
    return [(names[i], names[i + 1]) for i in range(n - 1)]


def _forest():
    rnd = random.Random(1)
    edges, k = [], 0
    for _ in range(150):
        nodes = [f"kg:f{k + j:04d}" for j in range(rnd.randint(2, 8))]
        k += len(nodes)
        rnd.shuffle(nodes)
        edges += [(nodes[j], nodes[rnd.randrange(j)]) for j in range(1, len(nodes))]
    return edges


def _gnm(n=1000, m=1200):
    rnd = random.Random(2)
    return [(f"kg:g{rnd.randrange(n):04d}", f"kg:g{rnd.randrange(n):04d}") for _ in range(m)]


GRAPHS = {
    "chain64_sorted": lambda: _chain(64, False),
    "chain64_random": lambda: _chain(64, True),
    "chain1000_sorted": lambda: _chain(1000, False),
    "chain1000_random": lambda: _chain(1000, True),
    "forest": _forest,
    "gnm": _gnm,
}


def _driver_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _components(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    comps = C.connected_components(df)
    return comps, {r.node: r.component for r in comps.collect()}


@pytest.fixture
def rounds(spark, monkeypatch):
    """Counts connected_components' rounds: one localCheckpoint each."""
    cls = type(spark.range(1))
    inner = cls.localCheckpoint
    calls = []

    def counted(self, *args, **kwargs):
        calls.append(1)
        return inner(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counted)
    return calls


def _size_bits(comps):
    """Bit length of the optimizer's size estimate for the plan. py4j
    will not hand Python an integer of more than 4,300 decimal digits;
    such an estimate counts as unbounded."""
    try:
        return comps._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().bit_length()
    except ValueError:
        return math.inf


def test_random_order_chain_finishes_with_small_plan_stats(spark):
    """A chain whose IRIs are in random order ends with the right labels,
    and the returned plan's size estimate stays small. A loop that joins
    the label table with itself every round multiplies that estimate each
    round, until planning one round takes minutes. The same chain spread
    over 8 tasks is a case of test_multi_round_components."""
    edges = _chain(64, True)
    comps, got = _components(spark, edges)
    bits = _size_bits(comps)
    assert got == _driver_components(edges)
    assert bits < 4096, bits


def test_round_cap_raises(spark, monkeypatch):
    """Labels still changing at the round cap are an error naming the cap,
    never a silent unconverged result."""
    monkeypatch.setattr(C, "MAX_ITERATIONS", 1)
    with _conf(spark, SPREAD):
        with pytest.raises(RuntimeError, match=r"after 1 rounds"):
            _components(spark, _chain(64, True))


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_multi_round_components(spark, rounds, name):
    """Spread over 8 tasks, each graph takes several rounds and still
    gives the driver's components, with a small plan size estimate."""
    edges = GRAPHS[name]()
    with _conf(spark, SPREAD):
        comps, got = _components(spark, edges)
        bits = _size_bits(comps)
    assert got == _driver_components(edges)
    assert len(rounds) > 1, len(rounds)
    assert bits < 4096, bits


def test_canonicalize_job_budget(spark):
    """Canonical map plus rewrite, collected, runs at most 8 Spark jobs on
    a pair, a 6-node cluster and a triple with an unmapped IRI."""
    same_as = spark.createDataFrame(
        [("kg:p/b", "kg:p/a")]
        + [(f"kg:c/{i}", f"kg:c/{i + 1}") for i in range(5)],
        "subj string, obj string",
    )
    triples = spark.createDataFrame(
        [
            ("kg:p/b", "kg:refs", "kg:c/5", 0),
            ("kg:c/3", "kg:refs", "kg:other", 0),
            ("kg:c/4", "kg:name", "kg:c/4", 2),
        ],
        "subj string, pred string, obj string, obj_kind int",
    )
    tracker = spark.sparkContext.statusTracker()
    with job_group(spark, "canonicalize job budget"):
        out = C.rewrite_triples(triples, C.canonical_map(same_as)).collect()
    jobs = tracker.getJobIdsForGroup("canonicalize job budget")
    assert {(r.subj, r.obj) for r in out} == {
        ("kg:p/a", "kg:c/0"),
        ("kg:c/0", "kg:other"),
        ("kg:c/0", "kg:c/4"),
    }
    assert len(jobs) <= 8, len(jobs)
