"""Stage 3 — IRI canonicalization via connected components by local
contraction (SURVEY.md §4 custom machinery #1; north rule: "checkpointed
DataFrame loop, no GraphFrames dependency").

Given sameAs edges, computes per-node component = min IRI reachable,
then rewrites triple subjects/objects through the component map.

Algorithm (local contraction, Łącki et al., *Connected Components at
Scale via Local Contractions*, 2018): each round runs union-find over
each task's share of the edges in one Arrow kernel; a node seen in
several tasks gets one root per task, and the next round joins those
roots. Under AQE coalescing an edge set below about 1 MB lands in one
task and closes in one round. ``localCheckpoint()`` truncates lineage
per round — the fixpoint Catalyst cannot express (SURVEY.md §4). The
final rewrite joins the (usually tiny) non-trivial component map
against triples — broadcast when it fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

MAX_ITERATIONS = 50


def _union_find(batches):
    """mapInArrow kernel: the task's (src, dst) edges → (node, root) for
    each node in them, root = the smallest IRI of its task-local set.

    Ids are ranks in byte order, Spark's string order, so a set's
    smallest id is its smallest IRI. Each pass hooks the larger root of
    every edge onto the smaller, then pointer-jumps to the roots; every
    set with an edge to another set merges, so such sets at least halve
    per pass."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    t = pa.Table.from_batches(batches)
    ends = pa.chunked_array(t.column("src").chunks + t.column("dst").chunks)
    enc = ends.combine_chunks().dictionary_encode()
    order = pc.array_sort_indices(enc.dictionary).to_numpy()
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    ids = rank[enc.indices.to_numpy()]
    src, dst = ids[: t.num_rows], ids[t.num_rows :]
    parent = np.arange(len(order))
    while True:
        rs, rd = parent[src], parent[dst]
        if np.array_equal(rs, rd):
            break
        lo = np.minimum(rs, rd)
        np.minimum.at(parent, rs, lo)
        np.minimum.at(parent, rd, lo)
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    names = enc.dictionary.take(order)
    yield pa.RecordBatch.from_arrays([names, names.take(parent)], ["node", "root"])


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) undirected → (node, component) with component =
    lexicographic min node IRI in the component.

    A round is one ``localCheckpoint``: the union-find kernel over the
    edges shuffled by ``src``, then ``groupBy("node")`` for each node's
    smallest root and set of roots, counting the nodes with several roots
    as an ``observe()`` metric of the same job. Those roots are one
    component: the next round's edges are a star between them, centred
    on the root with the smallest per-round ``xxhash64``, a random
    priority that the IRI order cannot defeat. The first round likewise
    points each edge from its endpoint with the smaller hash, so edges
    meeting at a low-priority node share its task. At the end, left
    joins compose each round's (node, root) map into the previous one.
    Raises if nodes still have several roots after
    :data:`MAX_ITERATIONS` rounds.
    """
    first = F.xxhash64("src") <= F.xxhash64("dst")
    edges = edges.select(
        F.when(first, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(first, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )
    maps = []
    for rnd in range(1, MAX_ITERATIONS + 1):
        obs = Observation()
        roots = (
            edges.repartition("src")
            .mapInArrow(_union_find, "node string, root string")
            .groupBy("node")
            .agg(F.min("root").alias("root"), F.collect_set("root").alias("roots"))
            .observe(obs, F.count_if(F.size("roots") > 1).alias("split"))
            .localCheckpoint()
        )
        maps.append(roots.select("node", "root"))
        if not obs.get["split"]:
            break
        center = F.array_min(
            F.transform("roots", lambda r: F.struct(F.xxhash64(F.lit(rnd), r), r.alias("r")))
        )["r"]
        edges = roots.where(F.size("roots") > 1).select(
            center.alias("src"), F.explode(F.array_remove("roots", center)).alias("dst")
        )
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after {MAX_ITERATIONS} rounds"
        )
    comps = maps.pop()
    for labels in reversed(maps):
        later = comps.select(F.col("node").alias("root"), F.col("root").alias("final"))
        comps = labels.join(later, "root", "left").select(
            "node", F.coalesce(F.col("final"), F.col("root")).alias("root")
        )
    return comps.select("node", F.col("root").alias("component"))


def canonical_map(same_as: DataFrame) -> DataFrame:
    """sameAs triples → (iri, canonical_iri) for non-trivial entries only
    (identity rows omitted so the rewrite join stays small)."""
    edges = same_as.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    comps = connected_components(edges)
    return comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("iri"), F.col("component").alias("canonical_iri")
    )


def rewrite_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj and obj through the canonical map (left joins keep
    unmapped IRIs); literals (obj_kind != 0) are never rewritten.

    No broadcast hint: on a near-dup-heavy corpus the non-trivial
    canonical map is unbounded (tens of GB at 100 TB), so forcing a
    broadcast risks executor OOM. AQE picks broadcast at runtime when
    the map's actual size is under autoBroadcastJoinThreshold, and a
    shuffle hash join otherwise — the safe default at every scale."""
    m_subj = mapping.select(
        F.col("iri").alias("subj"), F.col("canonical_iri").alias("subj_canon")
    )
    m_obj = mapping.select(
        F.col("iri").alias("obj"), F.col("canonical_iri").alias("obj_canon")
    )
    out = (
        triples.join(m_subj, "subj", "left")
        .join(m_obj, "obj", "left")
        .select(
            F.coalesce(F.col("subj_canon"), F.col("subj")).alias("subj"),
            F.col("pred"),
            F.when(F.col("obj_kind") == 0, F.coalesce(F.col("obj_canon"), F.col("obj")))
            .otherwise(F.col("obj"))
            .alias("obj"),
            F.col("obj_kind"),
            *[c for c in triples.columns if c not in ("subj", "pred", "obj", "obj_kind")],
        )
    )
    return out
