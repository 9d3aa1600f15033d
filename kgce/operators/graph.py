"""Entity-graph analytics: degrees, degree-ordered triangle counting,
and label-propagation community detection.

After linking, the engine owns a large co-occurrence/similarity graph;
triangle density is the standard signal for cluster quality (near-dup
clusters are triangle-rich, hub spam is wedge-rich but triangle-poor)
and degree statistics size the skew guards.  The reference engine has no
counterpart — beyond-reference operators per the task brief.

Triangle counting uses the classic DEGREE ORDERING (node-iterator++ /
Schank-Wagner): every edge is oriented from its lower-(degree, id)
endpoint to the higher one, wedges are enumerated only from each node's
out-neighbors, and a triangle is counted exactly once — at its
lowest-ranked vertex.  This is THE scalable form: out-degree is bounded
by O(sqrt(m)) for any graph, so a hub with millions of neighbors
produces no quadratic wedge blowup (its edges all point INTO it).  All
arithmetic is integer joins/counts — bit-identical across engines, so
the DuckDB oracle grades exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .linking import _checkpoint


def canonical_edges(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Distinct undirected edges as (lo, hi), self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("lo"),
            F.greatest(F.col(a), F.col(b)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )


def cooccurrence_pairs(
    items: DataFrame, group_col: str = "doc_id", item_col: str = "mention_text"
) -> DataFrame:
    """(a, b) with a < b: all unordered pairs of DISTINCT items sharing
    a group — the co-occurrence edge build.

    One groupBy + JVM posexplode² instead of the naive
    ``distinct() -> a ⋈ b ON group`` self-join: the self-join's two
    renamed projections defeat exchange reuse, so the (expensive)
    upstream item derivation executes once PER SIDE (the CLAUDE.md
    multi-consumer trap), and the join shuffles the item table twice.
    ``collect_set`` gives the per-group distinct for free and
    ``array_sort`` makes the i<j index order the a<b value order, so
    the emitted pair multiset is identical to the join form's (each
    pair once per group it co-occurs in)."""
    per_group = items.groupBy(group_col).agg(
        F.array_sort(F.collect_set(F.col(item_col))).alias("_ms")
    )
    e1 = per_group.select("_ms", F.posexplode("_ms").alias("i", "a"))
    e2 = e1.select("i", "a", F.posexplode("_ms").alias("j", "b")).filter(
        F.col("j") > F.col("i")
    )
    return e2.select("a", "b")


def degrees(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """(node, degree) over the undirected distinct edge set."""
    e = canonical_edges(edges, a, b)
    sym = e.select(F.col("lo").alias("node")).unionAll(
        e.select(F.col("hi").alias("node"))
    )
    return sym.groupBy("node").agg(F.count("*").alias("degree"))


def triangle_stats(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """One row: (n_nodes, n_edges, n_wedges, n_triangles).

    n_wedges counts ordered out-wedges under the degree orientation (the
    candidate set the closure join probes); n_triangles counts each
    triangle exactly once.
    """
    # the edge set feeds FIVE consumers (degree count, two rank joins,
    # edge count, closure probe); when it derives from an upstream UDF /
    # join pipeline an unmaterialized fork re-runs that pipeline per
    # consumer (the CLAUDE.md multi-consumer trap) — checkpoint once
    e = _checkpoint(canonical_edges(edges, a, b))
    sym = e.select(F.col("lo").alias("node")).unionAll(
        e.select(F.col("hi").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("degree"))
    dl = deg.select(F.col("node").alias("lo"), F.col("degree").alias("_dl"))
    dh = deg.select(F.col("node").alias("hi"), F.col("degree").alias("_dh"))
    ranked = e.join(dl, "lo").join(dh, "hi")
    # orient u -> v by (degree, node) rank; carry v's rank for wedge order
    lo_first = F.struct(F.col("_dl").alias("d"), F.col("lo").alias("n")) < F.struct(
        F.col("_dh").alias("d"), F.col("hi").alias("n")
    )
    o = _checkpoint(
        ranked.select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
            F.when(
                lo_first, F.struct(F.col("_dh").alias("d"), F.col("hi").alias("n"))
            ).otherwise(
                F.struct(F.col("_dl").alias("d"), F.col("lo").alias("n"))
            ).alias("rv"),
        )
    )
    x, y = o.alias("x"), o.alias("y")
    # ONE wedge pass: closure becomes a left join + flag so wedge and
    # triangle counts come out of the same aggregation
    wedges = x.join(
        y, (F.col("x.u") == F.col("y.u")) & (F.col("x.rv") < F.col("y.rv"))
    ).select(F.col("x.v").alias("wv"), F.col("y.v").alias("ww"))
    probe = o.select(
        F.col("u").alias("wv"), F.col("v").alias("ww"), F.lit(1).alias("_hit")
    )
    wcounts = (
        wedges.join(probe, ["wv", "ww"], "left")
        .agg(
            F.count("*").alias("n_wedges"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_triangles"),
        )
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return n_nodes.crossJoin(n_edges).crossJoin(wcounts)


def label_propagation(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    iterations: int = 5,
    weight: str | None = None,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007): every node starts in its own community, then for a
    fixed number of rounds simultaneously adopts the label held by the
    plurality of its neighbors (ties broken by the SMALLEST label, so
    the result is deterministic — the original paper breaks ties
    randomly and is therefore non-reproducible).  Returns
    (node, label).  Complements connected components: CC answers "same
    entity" over sparse equivalence edges; LPA finds dense regions of
    the co-occurrence graph (topic/entity clusters) that CC would merge
    into one giant component.

    Scale shape — the same iterative-DataFrame discipline as
    links.pagerank:

    * the symmetrized edge table is built ONCE and persisted; every
      round re-reads it (one corpus-scale table, K reads, zero
      re-shuffles of the raw edges),
    * each round is join(labels) -> count by (node, neighbor label) ->
      per-node argmax via a ``min(struct(-n, label))`` aggregate — two
      HashAggregates with map-side partials, NO window/global sort,
    * the per-round label table (O(nodes), not O(edges)) is eagerly
      checkpointed so round k's plan is depth-1 off a materialized
      table — a lazily chained loop replays the whole prefix per round
      (the pagerank 2^k lesson),
    * isolated endpoints never appear in ``edges`` by construction;
      nodes whose neighbors all dropped ties keep their current label
      via the left join + coalesce.

    Fixed-iteration semantics on purpose: synchronous LPA can oscillate
    between two labelings on bipartite-ish regions, so convergence is
    not a stopping rule at scale — K rounds is (K passes being the
    documented bound, matching how production systems run it).

    ``weight``: optional edge-weight column (e.g. co-occurrence counts)
    — the plurality becomes weight-sum plurality; parallel edges sum
    (the natural multigraph semantics), self-loops still drop, and the
    tie-break stays the smallest label.  Weights must be integers for
    cross-engine exactness (the co-occurrence counts are).
    """
    if weight is None:
        e = _checkpoint(canonical_edges(edges, a, b))
        sym = e.unionAll(e.select(F.col("hi").alias("lo"), F.col("lo").alias("hi")))
        # persisted PRE-PARTITIONED by node: hash(node) satisfies the
        # clustered distribution of BOTH per-round aggregations
        # (groupBy(node, label) and groupBy(node) — partitioning on a
        # subset of the grouping keys suffices), and the labels join
        # broadcasts, so each of the K rounds runs with ZERO edge-table
        # shuffles instead of two
        sym = (
            sym.select(
                F.col("lo").alias("node"), F.col("hi").alias("nbr"), F.lit(1).alias("w")
            )
            .repartition("node")
            .persist()
        )
    else:
        und = (
            edges.select(
                F.least(F.col(a), F.col(b)).alias("lo"),
                F.greatest(F.col(a), F.col(b)).alias("hi"),
                F.col(weight).alias("w"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .groupBy("lo", "hi")
            .agg(F.sum("w").alias("w"))
        )
        und = _checkpoint(und)
        sym = und.unionAll(
            und.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"), "w")
        )
        sym = (
            sym.select(F.col("lo").alias("node"), F.col("hi").alias("nbr"), "w")
            .repartition("node")  # same zero-shuffle-rounds rationale as above
            .persist()
        )
    labels = sym.select("node").distinct().withColumn("label", F.col("node"))
    labels = _checkpoint(labels)
    for _ in range(iterations):
        nbr_labels = sym.join(
            labels.select(F.col("node").alias("nbr"), "label"), "nbr"
        )
        counted = nbr_labels.groupBy("node", "label").agg(F.sum("w").alias("n"))
        best = counted.groupBy("node").agg(
            F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("label"))).alias("_b")
        )
        # O(nodes); truncates lineage per round
        labels = _checkpoint(
            labels.select("node", F.col("label").alias("_old"))
            .join(best, "node", "left")
            .select(
                "node", F.coalesce(F.col("_b.label"), F.col("_old")).alias("label")
            )
        )
    sym.unpersist()
    return labels


def k_core(edges: DataFrame, k: int, a: str = "a", b: str = "b") -> DataFrame:
    """The k-core of the undirected graph: the maximal subgraph where
    every node has degree >= k, as its edge set (lo, hi).  The standard
    density filter between "connected" (CC) and "clique-ish" (triangle
    counting): 2-core strips pendant chains off entity clusters, higher
    cores isolate the spam-graph hubs worth manual review.

    Iterative peel to FIXPOINT: each round computes degrees (one
    count-by-key over the surviving edges), drops nodes under k with a
    semi-join on BOTH endpoints, and eagerly checkpoints the shrinking
    edge table (bounded lineage, same discipline as pagerank/LPA).  The
    per-round 1-scalar survivor count read off the checkpoint is the
    bounded driver-side fixed-point test; rounds needed = the peel
    depth (the longest chain of cascading removals), which is tiny on
    real graphs — and each round's cost shrinks with the graph.
    """
    e = _checkpoint(canonical_edges(edges, a, b))
    n_edges = e.count()
    while n_edges:
        deg = (
            e.select(F.col("lo").alias("node"))
            .unionAll(e.select(F.col("hi").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        nxt = _checkpoint(
            e.join(keep.withColumnRenamed("node", "lo"), "lo", "left_semi").join(
                keep.withColumnRenamed("node", "hi"), "hi", "left_semi"
            ).select("lo", "hi")
        )
        n_next = nxt.count()
        if n_next == n_edges:
            return nxt
        e, n_edges = nxt, n_next
    return e


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    a: str = "a",
    b: str = "b",
    weight: str | None = None,
) -> DataFrame:
    """Newman modularity of a community assignment — the standard gauge
    for ``label_propagation`` output quality (Q near 0: no better than
    random; common real-graph partitions land 0.3-0.7).  One row:
    (n_communities, n_edges, total_weight, modularity) with

        Q = sum_c [ m_c / m  -  (d_c / 2m)^2 ]

    over the undirected (weight-collapsed) graph: ``m`` total edge
    weight, ``m_c`` intra-community weight, ``d_c`` the community's
    weighted degree sum.

    Scale shape: two label joins + three count/sum aggregates; the
    per-community term table stays distributed and folds into the final
    scalar with one agg — no community-count-sized collect.  The one
    driver-side scalar is ``m`` (a bounded ``first()``, the pagerank
    dangling-mass discipline), folded back as a plan literal.
    """
    if weight is None:
        und = canonical_edges(edges, a, b).withColumn("w", F.lit(1).cast("long"))
    else:
        und = (
            edges.select(
                F.least(F.col(a), F.col(b)).alias("lo"),
                F.greatest(F.col(a), F.col(b)).alias("hi"),
                F.col(weight).alias("w"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .groupBy("lo", "hi")
            .agg(F.sum("w").alias("w"))
        )
    und = _checkpoint(und)
    m = und.agg(F.sum("w").alias("m")).first()["m"]
    if not m:
        return edges.sparkSession.createDataFrame(
            [(0, 0, 0, 0.0)],
            "n_communities long, n_edges long, total_weight long, modularity double",
        )
    lab = labels.select(F.col("node"), F.col("label"))
    deg = (
        und.select(F.col("lo").alias("node"), "w")
        .unionAll(und.select(F.col("hi").alias("node"), "w"))
        .groupBy("node")
        .agg(F.sum("w").alias("d"))
    )
    d_c = deg.join(lab, "node").groupBy("label").agg(F.sum("d").alias("d_c"))
    intra = (
        und.join(lab.select(F.col("node").alias("lo"), F.col("label").alias("_l1")), "lo")
        .join(lab.select(F.col("node").alias("hi"), F.col("label").alias("_l2")), "hi")
        .filter(F.col("_l1") == F.col("_l2"))
        .groupBy(F.col("_l1").alias("label"))
        .agg(F.sum("w").alias("m_c"))
    )
    terms = d_c.join(intra, "label", "left").select(
        "label",
        (
            F.coalesce(F.col("m_c"), F.lit(0)) / F.lit(float(m))
            - (F.col("d_c") / F.lit(2.0 * m)) * (F.col("d_c") / F.lit(2.0 * m))
        ).alias("_q"),
    )
    stats = und.agg(
        F.count("*").alias("n_edges"), F.sum("w").alias("total_weight")
    )
    q = terms.agg(
        F.count("*").alias("n_communities"), F.sum("_q").alias("modularity")
    )
    return q.crossJoin(stats).select(
        "n_communities", "n_edges", "total_weight", "modularity"
    )
