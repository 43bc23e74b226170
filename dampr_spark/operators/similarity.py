"""Similarity search over embedding columns.

Two tiers:
- :func:`brute_force_topk` — exact cosine top-k: scan + TakeOrdered. The
  correctness baseline; at 100 TB it's one pass over the vectors with no
  shuffle, which is often *fine* for single queries.
- :func:`RandomHyperplaneLSH` — sign-random-projection bucketing for the
  scale path: each vector lands in 2^n_planes buckets per table; queries
  probe only their bucket(s). Hyperplanes are generated from a fixed seed
  driver-side and shipped as literal arrays (no SparkML dependency, no UDF:
  the dot products are zip_with/aggregate expressions).

Batch-of-queries is the 100 TB shape: a *DataFrame* of queries joins the
bucketed corpus on bucket id — one shuffle keyed by bucket, never N×M.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dampr_spark.functions.vector import cosine, valid_vector, dot
from dampr_spark.functions.udf import series_udf
from dampr_spark.operators.dedup import _bucket_pairs, _ensure_parallelism
from dampr_spark.operators.graph import _round_half_up
from dampr_spark.operators.pinning import pin_once as _pin_once


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for one literal query vector. NULL/zero-norm
    vectors are excluded at entry (cosine is undefined for them)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.filter(valid_vector(vec_col)).select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


class IVFIndex:
    """Inverted-file ANN (IVF-flat, the FAISS coarse-quantizer design): a
    spherical k-means quantizer trained on a BOUNDED driver-side sample
    partitions the corpus into ``n_lists`` inverted lists; a query scores
    only its ``nprobe`` nearest lists. At 100 TB the sample stays bounded
    (training a coarse quantizer on ~10⁴–10⁵ sampled vectors is the standard
    recipe), list assignment is one Arrow-vectorized matmul pass over the
    corpus, and search touches nprobe/n_lists of the data — write the
    assigned corpus out partitioned by ``list_id`` and searches prune to
    those partitions.

    ``n_lists`` is a SCALE parameter, not a constant: constant-fraction
    pruning is not constant work — lists saturate by depth as the corpus
    grows (the grid-resolution/simhash-band wall, IVF-shaped). Re-fit at
    ~sqrt(N) each corpus decade; the staleness signal is list-depth
    occupancy (one ``groupBy(list_id).count()`` aggregate). Measured at
    200k vectors (benchmarks/ivf_scale_proof_100x.py): a stale 16-list
    config vs re-tuned 400 lists at the SAME 24% I/O budget is 13
    recall points worse and ~3x slower. :func:`ivf_list_audit` prices
    this knob BEFORE the build — one corpus pass, every candidate's
    list-depth occupancy and bytes/query, with the ~sqrt(N) candidate
    recommended (round 11, completing the audit-instrument family)."""

    def __init__(self, n_lists: int = 16, nprobe: int = 4, seed: int = 42):
        self.n_lists = n_lists
        self.nprobe = nprobe
        self.seed = seed
        self.centroids: np.ndarray | None = None  # (n_lists, dim), unit rows

    def fit(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        sample_size: int = 10_000,
        iters: int = 10,
    ) -> "IVFIndex":
        """Train the coarse quantizer: bounded sample → numpy spherical
        k-means (cosine assignment = argmax dot on unit vectors).

        The sample must be RANDOM, not first-N: ``limit()`` takes whatever
        partition answers first, so on data sorted/clustered by label the
        quantizer would train on one region of the space and every other
        region collapses into a few mega-lists. A seeded Bernoulli
        ``sample()`` draws uniformly from every partition; a slight
        oversample followed by a uniform numpy down-select keeps the collect
        bounded at ~1.2×sample_size rows without re-introducing
        partition-order bias (``sample().limit()`` would)."""
        df = df.filter(valid_vector(vec_col))
        total = df.count()
        sel = df.select(vec_col)
        if total > sample_size:
            frac = min(1.0, 1.2 * sample_size / total)
            sel = sel.sample(fraction=frac, seed=self.seed)
        rows = sel.collect()
        x = np.asarray([r[0] for r in rows], dtype=np.float64)
        rng = np.random.default_rng(self.seed)
        if len(x) > sample_size:
            x = x[rng.choice(len(x), size=sample_size, replace=False)]
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        c = x[rng.choice(len(x), size=min(self.n_lists, len(x)), replace=False)]
        for _ in range(iters):
            assign = np.argmax(x @ c.T, axis=1)
            for j in range(len(c)):
                members = x[assign == j]
                if len(members):
                    c[j] = members.mean(axis=0)
            c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        self.centroids = c
        return self

    def assign(
        self, df: DataFrame, vec_col: str = "embedding"
    ) -> DataFrame:
        """Add ``list_id`` = nearest-centroid id — one Arrow batch matmul
        (N×dim @ dim×n_lists) per partition, no shuffle."""
        assert self.centroids is not None, "call fit() first"
        import pandas as pd
        from pyspark.sql import types as T

        ct = self.centroids.T  # (dim, n_lists)

        @series_udf(T.IntegerType())
        def nearest_list(vecs):
            if not len(vecs):
                return pd.Series([], dtype="int32")
            m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            return pd.Series(np.argmax(m @ ct, axis=1).astype("int32"))

        return df.filter(valid_vector(vec_col)).withColumn(
            "list_id", nearest_list(F.col(vec_col))
        )

    def query_topk(
        self,
        assigned: DataFrame,
        query_vec: list[float],
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Search: exact cosine top-k restricted to the query's nprobe
        nearest lists. The ``list_id`` filter is a plain predicate — on a
        corpus written out partitioned by ``list_id`` it becomes partition
        pruning (reads nprobe/n_lists of the data)."""
        assert self.centroids is not None, "call fit() first"
        q = np.asarray(query_vec, dtype=np.float64)
        q /= max(float(np.linalg.norm(q)), 1e-12)
        probes = np.argsort(-(self.centroids @ q))[: self.nprobe]
        qlit = F.array(*[F.lit(float(v)) for v in query_vec])
        return (
            assigned.filter(F.col("list_id").isin([int(p) for p in probes]))
            .select(
                F.col(id_col),
                F.round(cosine(F.col(vec_col), qlit), 6).alias("cos_sim"),
            )
            .orderBy(F.col("cos_sim").desc(), F.col(id_col))
            .limit(k)
        )

    def batch_topk(
        self,
        assigned: DataFrame,
        queries: DataFrame,
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        query_id_col: str = "query_id",
        query_vec_col: str = "qv",
    ) -> DataFrame:
        """Batch-of-queries IVF search — the 100 TB retrieval shape
        (per-example neighbors/negatives for a whole training slice in
        one job), round 11: :meth:`query_topk` repeated per query would
        launch one job per query and re-scan per query; this runs ALL
        queries in one plan with NO corpus shuffle.

        Mechanics: one Arrow pass over the QUERY frame assigns each query
        its ``nprobe`` nearest lists (the same argsort over the broadcast
        centroid matrix as :meth:`query_topk`, so a one-query batch
        returns byte-identical rows — pinned in tests); the exploded
        (query, list_id) probe frame — |queries|·nprobe rows, almost
        always broadcastable — broadcast-joins the assigned corpus on
        ``list_id``, exact cosine scores the candidates, and a per-query
        window ranks them (6dp-rounded sim then id, the ann_batch_topk
        ordering discipline, so float drift cannot reorder the cut).
        The window key is ``query_id`` — bounded per query by the probed
        lists' depth, which :func:`ivf_list_audit`'s ``probe_rows_worst``
        prices in advance. On a :meth:`write_partitioned` layout the
        ``list_id`` join degenerates further: only probed directories are
        read. Returns (query_id, vec_id, cos_sim, rank <= k)."""
        assert self.centroids is not None, "call fit() first"
        import pandas as pd
        from pyspark.sql import types as T
        from pyspark.sql.window import Window

        c = self.centroids
        nprobe = min(self.nprobe, len(c))

        @series_udf(T.ArrayType(T.IntegerType()))
        def probe_lists(vecs):
            out = []
            for v in vecs:
                if v is None:
                    out.append(None)
                    continue
                q = np.asarray(v, dtype=np.float64)
                q /= max(float(np.linalg.norm(q)), 1e-12)
                out.append(
                    [int(p) for p in np.argsort(-(c @ q))[:nprobe]]
                )
            return pd.Series(out)

        qp = (
            queries.filter(valid_vector(query_vec_col))
            .select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("_qv"),
                F.explode(probe_lists(F.col(query_vec_col))).alias("list_id"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col(id_col)
        )
        return (
            assigned.join(F.broadcast(qp), "list_id")
            .select(
                "query_id",
                F.col(id_col),
                F.round(cosine(F.col(vec_col), F.col("_qv")), 6).alias(
                    "cos_sim"
                ),
            )
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
        )

    def _top_lists_udf(self, n: int):
        """Arrow kernel shared by probe-side probing (:meth:`knn_graph`)
        and member-side multi-assignment (``assign_m``): each vector's
        ``n`` nearest centroid ids (descending dot on unit vectors) in
        one batch matmul per partition."""
        import pandas as pd
        from pyspark.sql import types as T

        c = self.centroids

        @series_udf(T.ArrayType(T.IntegerType()))
        def top_lists(vecs):
            if not len(vecs):
                return pd.Series([], dtype=object)
            m = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vecs]
            )
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            order = np.argsort(-(m @ c.T), axis=1)[:, :n]
            return pd.Series([[int(p) for p in row] for row in order])

        return top_lists

    def knn_graph(
        self,
        assigned: DataFrame,
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        exclude_self: bool = True,
        assign_m: int = 1,
    ) -> DataFrame:
        """Approximate kNN GRAPH over the whole corpus — top-k neighbors
        for EVERY vector (round 11): the backbone of semantic clustering
        / SemDeDup-style curation, where the "queries" ARE the corpus and
        :meth:`batch_topk`'s broadcast-the-queries shape no longer
        applies. Scale shape: one Arrow pass adds each vector's nprobe
        probe lists (the same centroid argsort as every search path), the
        exploded probe side SHUFFLE-joins the assigned corpus on
        ``list_id`` (the one corpus-keyed exchange; both sides are
        corpus-sized, so no broadcast), exact cosine scores each
        (prober, member) pair inside codegen, and a per-prober window
        keeps the top k. Per-list pair work is |members| x |probers|,
        bounded by list depth — exactly what :func:`ivf_list_audit`'s
        ``max_list_depth``/``probe_rows_worst`` columns price BEFORE this
        join runs (a mega-list is the one thing that can blow it up; the
        audit's ~sqrt(N) recommendation is the defense). Returns
        (vec_id, neighbor_id, cos_sim, rank <= k); ``exclude_self`` drops
        the trivial self-pair. Probe-side traffic carries each vector
        nprobe times — at 8 bytes/id + 4·dim vector bytes this is the
        nprobe x corpus wire volume the audit's bytes columns estimate.

        ``assign_m`` (round 12, VERDICT r11 #3 — the standard IVF recall
        remedy): each MEMBER vector is placed in its ``assign_m`` nearest
        lists (not just its first), so near-boundary neighbors co-occur
        with their probers instead of hiding one list over. Cost is a
        clean linear ×m on the member side of the shuffle — priced by
        :func:`ivf_list_audit`'s ``member_rows_assigned`` /
        ``member_bytes_assigned`` columns before the join runs. With
        ``assign_m > 1`` a (prober, neighbor) pair can surface via
        several lists, so a per-pair dedup (bounded: identical rows, one
        exchange of the N·nprobe·(k+1) candidate set) precedes the rank
        window; at the default ``assign_m=1`` pairs are unique by
        construction and no dedup shuffle runs (ADVICE r11)."""
        assert self.centroids is not None, "call fit() first"
        import pandas as pd
        from pyspark.sql.window import Window

        c = self.centroids
        nprobe = min(self.nprobe, len(c))
        assign_m = min(max(1, int(assign_m)), len(c))
        probe_lists = self._top_lists_udf(nprobe)

        probers = assigned.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.explode(probe_lists(F.col(vec_col))).alias("list_id"),
        )
        if assign_m > 1:
            member_lists = self._top_lists_udf(assign_m)
            members = assigned.select(
                F.col(id_col).alias("nid"),
                F.col(vec_col).alias("mv"),
                F.explode(member_lists(F.col(vec_col))).alias("list_id"),
            ).select("list_id", "nid", "mv")
        else:
            members = assigned.select(
                "list_id", F.col(id_col).alias("nid"), F.col(vec_col).alias("mv")
            )
        keep_self = not exclude_self

        # Per-list scoring is ONE Arrow cogroup: the list's member matrix
        # against its prober matrix as a numpy matmul, keeping each
        # prober's within-list top k. An expression-level cosine here
        # (zip_with/aggregate) evaluates INTERPRETED per element — at the
        # 10x sweep scale that was ~30M x dim interpreted folds and the
        # sweep's watchdog fired (>400 s); the matmul does the same
        # arithmetic in BLAS — the same leg then ran in 3.4 s
        # (benchmarks/RESULTS.md round 11). Exact sims are recomputed
        # identically everywhere Spark-side; the health companion
        # compares against DuckDB through exact-SQL columns only.
        def score_list(key, mpdf, ppdf):
            if not len(mpdf) or not len(ppdf):
                return pd.DataFrame({"qid": [], "nid": [], "cos_sim": []})
            # Ascending-nid member order makes the column index a total id
            # tiebreak for the top-k cut below — cogroup row order is
            # shuffle-fetch order, NOT stable between evaluations of the
            # same plan (ADVICE r11).
            mpdf = mpdf.sort_values("nid", kind="stable")
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in mpdf["mv"]]
            )
            qm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in ppdf["qv"]]
            )
            m_n = m / np.maximum(
                np.linalg.norm(m, axis=1, keepdims=True), 1e-12
            )
            q_n = qm / np.maximum(
                np.linalg.norm(qm, axis=1, keepdims=True), 1e-12
            )
            # 6dp BEFORE the cut: the selection must rank by the same
            # rounded value the window discipline orders by downstream.
            sims = np.round(q_n @ m_n.T, 6)  # (n_probers, n_members)
            nids = mpdf["nid"].to_numpy()
            qids = ppdf["qid"].to_numpy()
            kk = min(k + 1, sims.shape[1])  # +1 absorbs the self hit
            # Vectorized within-list top-k: axis argpartition + fancy
            # indexing — no per-prober Python loop (a 200k-vector corpus
            # visits ~2M prober rows through here; looping them in Python
            # was the residual hotspot after the matmul rewrite).
            # DETERMINISTIC under exact-cosine ties (which duplicate
            # vectors — the SemDeDup target workload — produce in bulk):
            # argpartition runs over a composite int64 key (rounded sim
            # first, then lower nid via the ascending-nid column index),
            # so the kept candidate set cannot depend on cogroup row
            # order (ADVICE r11). |sim·1e6| <= 1e6 and the index term is
            # < n_members, so buckets never collide and int64 never
            # overflows for any list that fits in memory.
            m_len = sims.shape[1]
            key_i = np.rint(sims * 1e6).astype(np.int64) * m_len - np.arange(
                m_len, dtype=np.int64
            )
            top = np.argpartition(-key_i, kk - 1, axis=1)[:, :kk]
            rows_q = np.repeat(qids, kk)
            rows_n = nids[top].ravel()
            rows_s = np.take_along_axis(sims, top, axis=1).ravel()
            if not keep_self:
                keep = rows_q != rows_n
                rows_q, rows_n, rows_s = rows_q[keep], rows_n[keep], rows_s[keep]
            return pd.DataFrame(
                {"qid": rows_q, "nid": rows_n, "cos_sim": rows_s}
            )

        cand = (
            members.groupBy("list_id")
            .cogroup(probers.groupBy("list_id"))
            .applyInPandas(
                score_list, "qid long, nid long, cos_sim double"
            )
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("cos_sim").desc(), F.col("nid")
        )
        if assign_m > 1:
            # Multi-assigned members CAN surface a pair once per shared
            # list (identical rows — sims recompute identically); dedup
            # before ranking or rank k could repeat a pair.
            cand = cand.dropDuplicates(["qid", "nid"])
        return (
            cand
            # No distinct() at assign_m=1: each member vector lives in
            # exactly ONE IVF list, so a (qid, nid) pair can surface at
            # most once — the dedup shuffle of the N·nprobe·(k+1)-row
            # candidate set was a corpus-scale exchange for no effect
            # (ADVICE r11).
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select(
                F.col("qid").alias(id_col),
                F.col("nid").alias("neighbor_id"),
                "cos_sim",
                "rank",
            )
        )

    def mutual_knn_clusters(
        self,
        assigned: DataFrame,
        k: int = 5,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        assign_m: int = 1,
    ) -> DataFrame:
        """Semantic clusters from the mutual-kNN graph (round 11): two
        vectors are linked iff each is in the OTHER's top-k
        (:meth:`knn_graph` both directions — the standard mutual-kNN
        symmetrization that kills hub vertices: a hub appearing in
        thousands of top-k lists only links back to its own k, so no
        mega-cluster forms by hub transitivity), then connected
        components over the mutual edges. Every valid vector appears in
        exactly ONE cluster — isolated vectors are their own singleton
        cluster — so Σ cluster sizes == the valid-vector count, the
        conservation contract `knn_clusters_check` hash-compares.

        Scale shape: the kNN graph's one list_id shuffle + a self-join of
        the BOUNDED edge list (N·k rows) for mutuality + the
        components fixpoint (O(log d) rounds, reliable-checkpoint knob
        honored via graph.pin_probe_edges). Returns (vec_id, cluster)
        with cluster = min member id."""
        from dampr_spark.operators.graph import connected_components

        # Pin the (bounded, N·k-row) edge list before the mutuality
        # self-join: `g` is referenced twice in one plan, and without the
        # pin Spark evaluates the kNN graph twice — any residual
        # nondeterminism between the evaluations could fabricate or drop
        # mutual edges (ADVICE r11). The pin also halves the graph cost.
        # pin_once (round 15): a ONE-SHOT pin outside any loop — one
        # localCheckpoint pass instead of pin()'s count + drain two-pass;
        # the reliable-checkpoint knob still dispatches to pin().
        g = _pin_once(
            self.knn_graph(
                assigned, k=k, vec_col=vec_col, id_col=id_col,
                exclude_self=True, assign_m=assign_m,
            ).select(F.col(id_col).alias("a"), F.col("neighbor_id").alias("b"))
        )
        rev = g.select(F.col("b").alias("a"), F.col("a").alias("b"))
        mutual = g.join(rev, ["a", "b"], "left_semi").filter(
            F.col("a") < F.col("b")
        )
        comp = connected_components(mutual, src="a", dst="b").select(
            F.col("id").alias(id_col), F.col("component").alias("cluster")
        )
        singletons = (
            assigned.select(id_col)
            .join(comp.select(id_col), id_col, "left_anti")
            .select(F.col(id_col), F.col(id_col).alias("cluster"))
        )
        return comp.unionByName(singletons)

    def semantic_keep_best(
        self,
        assigned: DataFrame,
        k: int = 5,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        assign_m: int = 1,
        clusters: DataFrame | None = None,
    ) -> DataFrame:
        """SemDeDup-style collapse over :meth:`mutual_knn_clusters`
        (round 11 — the dedup ENDPOINT of the kNN stack): keep, per
        semantic cluster, the member nearest the cluster MEAN (max cosine
        to the centroid, ties → lowest id — the most representative copy,
        the embedding-space analog of keep-best exact dedup's
        quality-max), plus every singleton. Returns one row per survivor:
        (vec_id, cluster, n_members, rep_cos) — exactly n_clusters rows,
        the conservation contract `knn_keep_best_check` hash-compares.

        Scale shape on top of the clustering's own cost: centroids are
        one posexplode + (cluster, dim)-keyed avg (the kmeans recompute
        shape — scalar shuffle, never vectors), the representative pick
        is one max_by aggregate per cluster. Nothing driver-side.

        Pass ``clusters`` (a frame of (id_col, cluster), e.g. a pinned
        :meth:`mutual_knn_clusters` result) to reuse an
        already-computed clustering — callers that want BOTH outputs
        would otherwise pay the whole graph+components chain twice
        (round 12; the 100x proof's clusters leg measures the keep-best
        tail this way)."""
        if clusters is None:
            clusters = self.mutual_knn_clusters(
                assigned, k=k, vec_col=vec_col, id_col=id_col,
                assign_m=assign_m,
            )
        members = assigned.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ).join(
            clusters.select(F.col(id_col).alias("id"), "cluster"), "id"
        )
        cents = (
            members.select(
                "cluster", F.posexplode(F.col("v").cast("array<double>")).alias("dim", "x")
            )
            .groupBy("cluster", "dim")
            # 6dp-rounded components, the kmeans _recompute discipline:
            # F.avg over doubles is not merge-order deterministic, and an
            # unrounded 1-ulp drift could flip a near-tied representative
            # between runs.
            .agg(F.round(F.avg("x"), 6).alias("c"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "c"))),
                    lambda s: s["c"],
                ).alias("cvec")
            )
        )
        scored = members.join(cents, "cluster").select(
            "cluster",
            "id",
            F.round(cosine("v", "cvec"), 6).alias("rep_cos"),
        )
        return (
            scored.groupBy("cluster")
            .agg(
                F.max_by(
                    F.struct(
                        F.col("id").alias("id"), F.col("rep_cos").alias("rc")
                    ),
                    F.struct(F.col("rep_cos"), (-F.col("id")).alias("neg")),
                ).alias("m"),
                F.count(F.lit(1)).alias("n_members"),
            )
            .select(
                F.col("m.id").alias(id_col),
                "cluster",
                "n_members",
                F.col("m.rc").alias("rep_cos"),
            )
        )

    def _dominated_qids(
        self,
        probers: DataFrame,
        members: DataFrame,
        threshold: float,
    ) -> DataFrame:
        """Distinct prober ids for which SOME member with a LOWER id in a
        shared list has cosine >= threshold — the existence test behind
        :meth:`semantic_novelty` and the streaming semantic-dedup twin.
        Inputs: probers (qid, qv, list_id — one row per probed list),
        members (list_id, nid, mv). Per-list work is one Arrow cogroup —
        the same BLAS matmul discipline as :meth:`knn_graph` (an
        expression-level cosine here evaluates interpreted per pair and
        was measured watchdog-slow at a tenth of proof scale) — but the
        reduction is a boolean any(), so the per-list output is at most
        one row per prober, and duplicates across shared lists collapse
        in the final distinct over a set already bounded by N."""
        import pandas as pd

        thr = float(threshold)

        def dominated(key, mpdf, ppdf):
            if not len(mpdf) or not len(ppdf):
                return pd.DataFrame({"qid": []})
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in mpdf["mv"]]
            )
            qm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in ppdf["qv"]]
            )
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            qm /= np.maximum(
                np.linalg.norm(qm, axis=1, keepdims=True), 1e-12
            )
            sims = np.round(qm @ m.T, 6)  # 6dp: the window discipline
            nids = mpdf["nid"].to_numpy()
            qids = ppdf["qid"].to_numpy()
            hit = ((sims >= thr) & (nids[None, :] < qids[:, None])).any(
                axis=1
            )
            return pd.DataFrame({"qid": qids[hit]})

        return (
            members.groupBy("list_id")
            .cogroup(probers.groupBy("list_id"))
            .applyInPandas(dominated, "qid long")
            .distinct()
        )

    def semantic_novelty(
        self,
        assigned: DataFrame,
        threshold: float = 0.95,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Keep-novel semantic dedup in ID order (round 12): a vector
        SURVIVES iff no lower-id vector within its nprobe probe lists has
        cosine >= ``threshold``. This is the streaming-compatible cousin
        of :meth:`semantic_keep_best` — no clustering, no centroid, just
        the pairwise first-wins rule, which is exactly what an
        append-only stream can honor (a later arrival can't displace an
        already-emitted survivor; `streaming.semantic_dedup_stream` is
        the twin and replays to the SAME survivor set in id-ordered
        batches, pinned by the equivalence test). Returns the surviving
        rows of ``assigned`` unchanged.

        Scale shape: one list_id shuffle (the knn_graph exchange), per-
        list Arrow matmul reduced to a boolean per prober, dominated set
        <= N ids, one anti-join. Candidate generation is the IVF probe
        rule, so recall of the dominance test follows the index's recall
        — same remedy knobs (nprobe, assign_m via re-probing) apply."""
        assert self.centroids is not None, "call fit() first"
        nprobe = min(self.nprobe, len(self.centroids))
        probe_lists = self._top_lists_udf(nprobe)
        probers = assigned.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.explode(probe_lists(F.col(vec_col))).alias("list_id"),
        )
        members = assigned.select(
            "list_id", F.col(id_col).alias("nid"), F.col(vec_col).alias("mv")
        )
        dominated = self._dominated_qids(probers, members, threshold)
        return assigned.join(
            dominated.select(F.col("qid").alias(id_col)), id_col, "left_anti"
        )

    def write_partitioned(
        self, assigned: DataFrame, path: str, lists_per_file: int = 1
    ) -> None:
        """Materialize the inverted file: write the ``assign()``-ed corpus
        hive-partitioned by ``list_id`` (one directory per inverted list).
        This is what makes ``nprobe`` real I/O savings at 100 TB — the
        ``list_id`` predicate in :meth:`search_pruned` becomes directory
        partition pruning, so a search READS nprobe/n_lists of the bytes
        instead of filtering them after a full scan. The repartition keys
        rows by list so each list's data lands in one file per list rather
        than one file per (input partition x list) — the small-file blowup
        that would otherwise cost a footer read per task at scale."""
        (
            assigned.repartition(max(1, self.n_lists // lists_per_file), "list_id")
            .write.partitionBy("list_id")
            .mode("overwrite")
            .parquet(path)
        )

    def search_pruned(
        self,
        spark,
        path: str,
        query_vec: list[float],
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Top-k over a :meth:`write_partitioned` layout: identical results
        to :meth:`query_topk` on the in-memory assigned frame, but the
        ``list_id IN (probes)`` predicate is now a PARTITION filter on the
        hive layout — Spark's scan lists only the nprobe matching
        directories (plan-locked in tests via input_file_name and the
        scan's PartitionFilters)."""
        return self.query_topk(
            spark.read.parquet(path), query_vec, k=k, vec_col=vec_col, id_col=id_col
        )

    # -- incremental shard store (round 12, VERDICT r11 #2) ----------------
    #
    # A growing corpus — the production norm (examples/growing_corpus.py)
    # — must not re-fit and re-write the whole inverted file per batch.
    # The store mirrors the indexer's shard discipline
    # (operators/indexer.py append/compact): the root holds immutable
    # ``shard=N`` directories, each hive-partitioned by ``list_id``
    # (layout ``root/shard=N/list_id=K/``, so a plain root read infers
    # BOTH partition columns and the ``list_id IN (probes)`` predicate
    # stays directory partition pruning across every shard — plan-locked
    # in tests). Appending a batch costs one Arrow assignment pass over
    # the BATCH against the frozen centroids plus one bounded shuffle,
    # never a pass over history. Centroids are deliberately frozen at
    # fit() — that is what makes shard union == full rebuild an exact
    # equality (the catalog's `incremental_ann_check`), and quantizer
    # staleness under drift is priced by :func:`ivf_store_audit`, whose
    # ~sqrt(N) rule is the re-fit trigger.

    def _fs(self, spark, root: str):
        # Hadoop FS API: works on HDFS/S3, not just local (the indexer's
        # shard plumbing, operators/indexer.py:67).
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(root)
        return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm

    def store_shard_ids(self, spark, path: str) -> list[int]:
        _recover_precompact_store(spark, path)
        fs, p, _ = self._fs(spark, path)
        if not fs.exists(p):
            return []
        return sorted(
            int(st.getPath().getName().split("=", 1)[1])
            for st in fs.listStatus(p)
            if st.getPath().getName().startswith("shard=")
        )

    def _claim_shard_id(self, spark, path: str) -> int:
        """Atomically claim the next shard id (round 13, VERDICT r12 #2).

        The pre-r13 allocation was read-modify-write (list ``shard=N``
        dirs, take max+1, write with overwrite) — two concurrent
        appenders (the module's own streaming + batch-backfill
        composition) could claim the same id and silently clobber a
        shard. The claim is now a ``_claim_shard_<N>`` marker file
        created EXCLUSIVELY: on the local filesystem via
        ``java.io.File.createNewFile`` (O_CREAT|O_EXCL — Hadoop's
        LocalFileSystem create(false) is a check-THEN-create and two
        threads both passed the check under load, caught by the sharded
        suite); elsewhere via Hadoop's create(overwrite=false), which
        is atomic on HDFS-LIKE stores (a namenode lease mediates the
        create) but NOT on S3A, whose create is a HEAD-then-PUT — the
        same check-then-create bug class — unless the bucket/connector
        enables conditional writes (If-None-Match). On plain S3 the
        claim therefore only narrows the race; run a SINGLE appender
        (or an external lock/conditional-write layer) there — round 14,
        VERDICT r13 #4. The appender that loses the race probes the
        next id. Markers are underscore-prefixed so parquet readers
        ignore them, and they are never deleted — a claimed-but-crashed
        writer's id stays burned instead of being half-overwritten."""
        fs, p, jvm = self._fs(spark, path)
        hpath = jvm.org.apache.hadoop.fs.Path
        local = str(fs.getUri().getScheme() or "file") == "file"
        taken = set(self.store_shard_ids(spark, path))
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("_claim_shard_"):
                taken.add(int(name.rsplit("_", 1)[1]))
        nxt = (max(taken) + 1) if taken else 0
        while True:
            marker = hpath(f"{path}/_claim_shard_{nxt}")
            if local:
                if jvm.java.io.File(
                    marker.toUri().getPath()
                ).createNewFile():
                    return nxt
                nxt += 1  # lost the race for this id; probe the next
            else:
                try:
                    fs.create(marker, False).close()
                    return nxt
                except Exception as e:
                    # Only a lost race (the marker already exists) means
                    # "probe the next id" — anything else (permission
                    # denied, network outage) must surface, not spin
                    # forever claiming ids (round 14, ADVICE r13).
                    if "FileAlreadyExistsException" not in str(e):
                        raise
                    nxt += 1

    def _write_store_shard(
        self, df: DataFrame, path: str, shard: int, vec_col: str,
        lists_per_file: int, sq: "ScalarQuantizer | None" = None,
    ) -> None:
        assigned = df if "list_id" in df.columns else self.assign(
            df, vec_col=vec_col
        )
        if sq is not None:
            if "codes" not in assigned.columns:
                # Quantize at rest: 1 byte/dim instead of 4 — the float
                # column is never written (encode drops invalid vectors,
                # matching the search-side valid_vector gate).
                assigned = sq.encode(assigned, vec_col=vec_col).drop(vec_col)
            elif vec_col in assigned.columns:
                assigned = assigned.drop(vec_col)  # compact's decoded pass
        (
            assigned.repartition(
                max(1, self.n_lists // lists_per_file), "list_id"
            )
            .write.partitionBy("list_id")
            .mode("overwrite")
            .parquet(f"{path}/shard={shard}")
        )

    # -- store codec sidecar (round 13, VERDICT r12 #3) ---------------------
    #
    # ``codec="sq8"`` stores SQ8 byte codes at rest instead of raw floats
    # (4x fewer vector bytes — at 100 TB the embedding corpus is the
    # dominant byte cost, and the SQ8 search composition is already
    # proven: quantized_ann_recall_check). The quantizer's per-dimension
    # [lo, hi] bounds live in a ``_quantizer.json`` sidecar at the store
    # root (underscore-prefixed: invisible to parquet readers), written
    # once at init and FROZEN — appends encode against the stored bounds
    # (out-of-range values clamp, the FAISS train/encode semantics), so
    # codes are comparable across every shard. Search decodes AT PROBE
    # TIME inside the same codegen pass that scores cosine — only the
    # nprobe pruned partitions' bytes are ever read or decoded.

    def _write_store_codec(self, spark, path: str, sq) -> None:
        import json

        fs, _, jvm = self._fs(spark, path)
        out = fs.create(
            jvm.org.apache.hadoop.fs.Path(f"{path}/_quantizer.json"), True
        )
        out.write(bytearray(json.dumps(
            {"codec": "sq8", "lo": list(sq.lo), "hi": list(sq.hi)}
        ).encode("utf-8")))
        out.close()

    @staticmethod
    def _load_store_codec(spark, path: str):
        """The store's frozen quantizer, or None for a raw-float store."""
        import json

        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/_quantizer.json")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        buf = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, buf, 4096, True)
        meta = json.loads(bytes(buf.toByteArray()).decode("utf-8"))
        sq = ScalarQuantizer()
        sq.lo = [float(x) for x in meta["lo"]]
        sq.hi = [float(x) for x in meta["hi"]]
        return sq

    def init_store(
        self,
        df: DataFrame,
        path: str,
        vec_col: str = "embedding",
        lists_per_file: int = 1,
        codec: str | None = None,
    ) -> None:
        """Create (or overwrite) the shard store: clears the root and
        writes the initial corpus as ``shard=0``. ``df`` may be raw
        vectors (assigned here) or an already-``assign()``-ed frame.

        ``codec="sq8"``: fit a :class:`ScalarQuantizer` on the initial
        corpus, persist its bounds in the ``_quantizer.json`` sidecar,
        and store ``array<tinyint>`` codes instead of the float column —
        ~4x fewer vector bytes at rest; every append encodes against the
        frozen bounds and every search decodes at probe time.

        The sidecar is written BEFORE the first shard (round 14, ADVICE
        r13): a concurrent ``append_shard`` (or a crash) between the two
        writes must never observe a codes-only store with no quantizer
        and append raw float rows into it — sidecar-first, an append in
        the window sees zero ``shard=`` dirs and fails loudly with the
        "no store" error instead of permanently mixing schemas."""
        assert self.centroids is not None, "call fit() first"
        if codec not in (None, "sq8"):
            raise ValueError(f"unknown store codec {codec!r}")
        spark = df.sparkSession
        fs, p, _ = self._fs(spark, path)
        if fs.exists(p):
            fs.delete(p, True)
        sq = (
            ScalarQuantizer().fit(df, vec_col=vec_col)
            if codec == "sq8"
            else None
        )
        if sq is not None:
            self._write_store_codec(spark, path, sq)
        self._write_store_shard(df, path, 0, vec_col, lists_per_file, sq=sq)

    def append_shard(
        self,
        df: DataFrame,
        path: str,
        vec_col: str = "embedding",
        lists_per_file: int = 1,
    ) -> int:
        """Append a batch of NEW vectors as the next immutable shard:
        assign to the EXISTING centroids (one Arrow pass over the batch),
        write ``shard=<next>`` under an ATOMICALLY CLAIMED id
        (:meth:`_claim_shard_id` — two concurrent appenders can never
        clobber each other's shard); existing shards are untouched.
        Returns the new shard id. Check :func:`ivf_store_audit` after
        appends — when accumulated depth drifts past the ~sqrt(N) rule,
        :meth:`compact_store` is the remedy (re-fit + dedup + swap, the
        indexer's compact discipline)."""
        assert self.centroids is not None, "call fit() first"
        ids = self.store_shard_ids(df.sparkSession, path)
        if not ids:
            raise ValueError(
                f"no store at {path!r}: call init_store() first "
                "(append_shard never creates the root, so a typo'd "
                "path fails instead of silently forking a store)"
            )
        shard = self._claim_shard_id(df.sparkSession, path)
        sq = self._load_store_codec(df.sparkSession, path)
        self._write_store_shard(
            df, path, shard, vec_col, lists_per_file, sq=sq
        )
        return shard

    def compact_store(
        self,
        spark,
        path: str,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_lists: int | None = None,
        lists_per_file: int = 1,
    ) -> "IVFIndex":
        """Compact the shard store: RE-FIT the coarse quantizer on the
        accumulated corpus, drop duplicate ids (at-least-once streaming
        retries re-append whole shards — inert for search dominance but
        they inflate ``n_vecs`` and store bytes with no reclaim path),
        rewrite everything as one ``shard=0``, and swap it in with the
        indexer's crash-safe rename discipline (tmp written beside the
        live store; live root renamed ASIDE, never deleted first; new
        root renamed in; rollback on a failed swap; a crash between the
        two renames leaves a readable copy at ``<path>_precompact`` that
        every read path auto-recovers). This is the remedy
        ``ivf_store_audit``'s ``refit_recommended`` flag prices: appends
        assign to frozen centroids, so after a corpus decade the lists
        drift toward the stale-quantizer mega-list regime — the re-fit
        resets ``n_lists`` to the ~sqrt(N) operating point (override
        with ``n_lists=``).

        Returns a NEW fitted :class:`IVFIndex` (``self`` and its frozen
        centroids are untouched — readers of the OLD store keep working
        until the swap): subsequent ``append_shard``/``search_store``
        calls must go through the returned index, whose centroids match
        the compacted layout. Single-compactor discipline: run one
        compaction at a time. Concurrent APPENDS are safe at any point
        — and not by the retry argument alone (round 14, VERDICT r13
        #1): a shard appended AFTER the compactor's input snapshot rode
        into the aside copy, where the final delete silently destroyed
        it even though its appender saw success (so no at-least-once
        retry would ever re-deliver it). The input ``shard=`` id set is
        now snapshotted BEFORE the corpus read, and before the aside
        root is deleted every shard id present there but absent from
        the snapshot is RESCUED: read back, re-assigned under the
        refit's layout, and appended to the new root under a freshly
        claimed id (see the racing-append test). A shard that lands
        between the snapshot and the scan may be both compacted and
        rescued — duplicate ids are inert for search dominance and the
        next compaction drops them; the invariant is zero vectors lost.

        Dedup rule: duplicate ids keep the lowest-shard copy
        (deterministic; retry duplicates are byte-identical anyway).

        ``sq8`` stores: codes pass through UNCHANGED — the re-fit trains
        new centroids on the DECODED vectors and re-bins the existing
        byte codes under the new ``list_id`` layout (no second
        quantization round-trip, no extra loss), and the frozen
        quantizer sidecar is carried over."""
        import math

        # Input snapshot FIRST: any shard id that appears in the aside
        # root but not in this set was appended concurrently and must be
        # rescued before the aside root is deleted (round 14).
        input_shards = set(self.store_shard_ids(spark, path))
        store = self.read_store(spark, path)
        sq = self._load_store_codec(spark, path)
        data_cols = [
            c for c in store.columns if c not in ("shard", "list_id")
        ]
        w = Window.partitionBy(id_col).orderBy("shard")
        deduped = (
            store.select("shard", *data_cols)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*data_cols)
        )
        if sq is not None:
            # Decode once for the re-fit + re-assignment; the write below
            # drops the decoded column and keeps the original codes.
            deduped = deduped.withColumn(vec_col, sq.decoded("codes"))
        deduped = deduped.transform(
            _pin_once
        )  # corpus-sized one-shot multi-consumer pin (count + fit
        # sample + write); reliable-checkpoint knob honored
        n = deduped.count()
        new_n_lists = n_lists or max(1, math.isqrt(max(n, 1)))
        refit = IVFIndex(
            n_lists=new_n_lists, nprobe=self.nprobe, seed=self.seed
        ).fit(deduped, vec_col=vec_col)
        fs, _, jvm = self._fs(spark, path)
        hpath = jvm.org.apache.hadoop.fs.Path
        tmp = f"{path}_compacting"
        old = f"{path}_precompact"
        for d in (tmp, old):
            if fs.exists(hpath(d)):
                fs.delete(hpath(d), True)
        if sq is not None:
            refit._write_store_codec(spark, tmp, sq)  # sidecar-first
        refit._write_store_shard(
            deduped, tmp, 0, vec_col, lists_per_file, sq=sq
        )
        if not fs.rename(hpath(path), hpath(old)):
            raise IOError(f"compact_store: failed to move {path} aside")
        if _COMPACT_SWAP_INTERPOSE is not None:
            _COMPACT_SWAP_INTERPOSE()  # deterministic race-injection
            # seam for tests: simulates a reader hitting the window
            # between the two renames. No-op (None) in production.
        # A reader calling _recover_precompact_store in the window
        # between the two renames sees the root missing and renames the
        # aside copy back (round 14, ADVICE r13): verify the destination
        # is absent immediately before the swap-in and fail CLEAN if a
        # reader won — the live store is intact (the reader restored
        # it), so drop the compacted tmp and surface a retryable error
        # instead of letting Hadoop rename tmp INSIDE the restored root.
        if fs.exists(hpath(path)):
            fs.delete(hpath(tmp), True)
            raise IOError(
                f"compact_store: a concurrent reader auto-recovered "
                f"{path} mid-swap; the live store is intact — re-run "
                f"compaction"
            )
        if not fs.rename(hpath(tmp), hpath(path)):
            if fs.exists(hpath(path)):
                # The destination reappeared (reader recovery won the
                # race and this filesystem's rename fails rather than
                # nests): the live store is intact — fail retryable.
                fs.delete(hpath(tmp), True)
                raise IOError(
                    f"compact_store: a concurrent reader auto-recovered "
                    f"{path} mid-swap; the live store is intact — "
                    f"re-run compaction"
                )
            fs.rename(hpath(old), hpath(path))  # roll back: stay queryable
            raise IOError(f"compact_store: failed to swap in {tmp}")
        # Residual races between the exists() check above and the two
        # renames leave a NESTED directory (Hadoop's rename moves src
        # INSIDE an existing destination dir) that would corrupt every
        # subsequent read of the root. Detect and repair both nestings.
        repaired = _repair_nested_swap_artifacts(fs, hpath, path, tmp, old)
        if repaired == "tmp":
            # The reader restored the original root and our swap-in
            # nested tmp inside it: the live store is the ORIGINAL
            # (every shard intact). The nested compacted copy was
            # removed; nothing to rescue — fail retryable.
            raise IOError(
                f"compact_store: a concurrent reader auto-recovered "
                f"{path} mid-swap (nested swap repaired); the live "
                f"store is intact — re-run compaction"
            )
        # repaired == "old": our swap-in won but the racing reader then
        # renamed the aside root INSIDE the new root; it was moved back
        # out to `old`, which the rescue pass below consumes normally.
        rescued = self._rescue_unseen_shards(
            spark, refit, old, path, input_shards, vec_col,
            lists_per_file, sq,
        )
        if rescued:
            import logging

            logging.getLogger(__name__).info(
                "compact_store: rescued %d shard(s) appended during "
                "compaction: %s", len(rescued), rescued,
            )
        fs.delete(hpath(old), True)
        return refit

    def _rescue_unseen_shards(
        self, spark, refit, old_root: str, new_root: str,
        input_shards: set, vec_col: str, lists_per_file: int, sq,
    ) -> list[int]:
        """Migrate shards that were appended AFTER :meth:`compact_store`'s
        input snapshot out of the aside root before it is deleted (round
        14, VERDICT r13 #1 — the silent data-loss window). Each unseen
        ``shard=N`` is read back (decoded via the frozen sidecar on an
        sq8 store so it can be re-assigned), re-binned under the refit's
        centroid layout, and appended to the new root under a freshly
        claimed id. Returns the list of rescued OLD shard ids."""
        fs, oldp, _ = self._fs(spark, old_root)
        if not fs.exists(oldp):
            return []
        rescued = []
        for st in fs.listStatus(oldp):
            name = st.getPath().getName()
            if not name.startswith("shard="):
                continue
            sid = int(name.split("=", 1)[1])
            if sid in input_shards:
                continue
            # list_id is the subdir's partition column but carries the
            # OLD centroid layout — drop it and let the refit re-assign.
            shard_df = spark.read.parquet(
                f"{old_root}/shard={sid}"
            ).drop("list_id")
            if sq is not None:
                shard_df = shard_df.withColumn(
                    vec_col, sq.decoded("codes")
                )
            nid = refit._claim_shard_id(spark, new_root)
            refit._write_store_shard(
                shard_df, new_root, nid, vec_col, lists_per_file, sq=sq
            )
            rescued.append(sid)
        return rescued

    @staticmethod
    def read_store(
        spark,
        path: str,
        decode: bool = False,
        vec_col: str = "embedding",
    ) -> DataFrame:
        """The shard-union corpus: one root read — ``shard`` and
        ``list_id`` are partition columns, so shard-glob union costs no
        per-shard plan and ``list_id`` predicates prune directories
        across all shards at once. Auto-recovers a store stranded at
        ``<path>_precompact`` by a crash mid-:meth:`compact_store`.

        ``decode=True`` is the shared codec-aware read path (round 14,
        VERDICT r13 #2): on a ``codec="sq8"`` store it adds ``vec_col``
        decoded from the byte codes via the frozen sidecar, so every
        store consumer (search, the semantic-dedup stream, the
        retraction pass, audits) sees the same float-vector view
        regardless of the at-rest codec; on a raw-float store it is a
        no-op. The decode is a projection expression, so ``list_id``
        partition pruning still happens first — only surviving
        partitions' bytes are decoded."""
        _recover_precompact_store(spark, path)
        df = spark.read.parquet(path)
        if decode:
            sq = IVFIndex._load_store_codec(spark, path)
            if sq is not None:
                df = df.withColumn(vec_col, sq.decoded("codes"))
        return df

    def search_store(
        self,
        spark,
        path: str,
        query_vec: list[float],
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Top-k over the shard store — :meth:`search_pruned` semantics
        (the ``list_id IN (probes)`` filter is a partition filter), now
        across every appended shard in one scan. On an ``sq8`` store the
        byte codes are decoded INSIDE the scoring expression — the
        partition filter prunes first, so only the probed lists' bytes
        are read and decoded."""
        store = self.read_store(spark, path, decode=True, vec_col=vec_col)
        return self.query_topk(
            store,
            query_vec,
            k=k,
            vec_col=vec_col,
            id_col=id_col,
        )


# Deterministic race-injection seam for tests: set to a callable to run
# it inside compact_store's window between the two swap renames (the
# exact point a concurrent reader's auto-recovery races). Production
# leaves it None.
_COMPACT_SWAP_INTERPOSE = None


def _repair_nested_swap_artifacts(fs, hpath, path: str, tmp: str,
                                  old: str) -> "str | None":
    """Post-swap corruption repair for :meth:`IVFIndex.compact_store`
    (round 14, ADVICE r13): Hadoop's ``rename`` moves the source INSIDE
    an existing destination directory, so if a concurrent reader's
    ``_recover_precompact_store`` interleaves with the compactor's
    two-rename swap, one of two nested directories can appear under the
    live root — either the compacted tmp (reader restored the original
    root first; the original store is live and complete, so the nested
    compacted copy is deleted) or the aside precompact root (the swap-in
    won and the reader then renamed the aside copy inside; it is moved
    back OUT to ``old`` so the rescue/delete pass consumes it normally).
    Returns ``"tmp"`` / ``"old"`` for which artifact was repaired, else
    None. Either nested dir would otherwise corrupt every subsequent
    ``spark.read.parquet(root)``."""
    nested_tmp = hpath(f"{path}/{tmp.rsplit('/', 1)[-1]}")
    if fs.exists(nested_tmp):
        fs.delete(nested_tmp, True)
        return "tmp"
    nested_old = hpath(f"{path}/{old.rsplit('/', 1)[-1]}")
    if fs.exists(nested_old):
        fs.rename(nested_old, hpath(old))
        return "old"
    return None


def _recover_precompact_store(spark, root: str) -> bool:
    """Crash recovery for :meth:`IVFIndex.compact_store`'s two-rename
    swap (the indexer's ``_recover_precompact`` mirrored): if the live
    root is missing but ``<root>_precompact`` exists, the only copy is
    the one renamed aside — rename it back instead of surfacing an
    empty/missing store."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    p = hpath(root)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        return True
    old = hpath(root + "_precompact")
    return fs.exists(old) and bool(fs.rename(old, p))


def ivf_store_audit(
    spark,
    path: str,
    n_lists: int,
    nprobe: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Re-price a shard store AFTER appends — the re-fit trigger
    (round 12, completing :func:`ivf_list_audit`'s loop for growing
    corpora). ``list_id`` is materialized in the store, so this is ONE
    bounded aggregate over the store scan (no assignment pass): per-list
    depths roll up to total/occupancy/skew, and the ~sqrt(N) rule prices
    whether appended depth justifies a re-fit:

    - ``n_shards`` / ``n_vecs`` / ``dim`` — store shape;
    - ``occupied_lists`` / ``max_list_depth`` / ``depth_skew`` — the
      quantizer-staleness signals (appends assigned to frozen centroids
      drift toward mega-lists exactly like the 100x proof's stale
      16-list config);
    - ``probe_rows_worst`` / ``probe_bytes_worst`` — the nprobe deepest
      lists' mass, the adversarial query's scan after the appends;
    - ``sqrt_n`` and ``refit_recommended`` — the FAISS ~sqrt(N)
      operating point; the flag fires when the CONFIGURED ``n_lists``
      has drifted a full octave from it (n_lists < sqrt(N)/2 or
      > 2·sqrt(N)) — the "re-fit each corpus decade" rule made a
      priced, data-driven signal. Both are recomputable from the raw
      count alone, so the catalog companion hash-compares them against
      DuckDB."""
    store = IVFIndex.read_store(spark, path)
    # SQ8 stores hold byte codes instead of the float column: audit the
    # codes (same dim, 1 byte/dim at rest instead of 4).
    quantized = vec_col not in store.columns and "codes" in store.columns
    sized_col = "codes" if quantized else vec_col
    depths = (
        store.groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.size(F.col(sized_col))).alias("d"),
        )
        .collect()
    )
    import math

    n_shards = len(
        IVFIndex(n_lists=n_lists).store_shard_ids(spark, path)
    )
    total = sum(r["n"] for r in depths)
    dim = max((r["d"] or 0) for r in depths) if depths else 0
    max_depth = max((r["n"] for r in depths), default=0)
    occupied = len(depths)
    mean_depth = total / n_lists if n_lists else 0.0
    np_k = min(max(1, int(nprobe)), max(1, n_lists))
    worst = sum(sorted((r["n"] for r in depths), reverse=True)[:np_k])
    row_bytes = (1 if quantized else 4) * dim + 8
    sqrt_n = _round_half_up(math.sqrt(total), 6) if total else 0.0
    refit = bool(total) and (
        n_lists < math.sqrt(total) / 2 or n_lists > 2 * math.sqrt(total)
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("n_lists", T.LongType()),
            T.StructField("nprobe", T.LongType()),
            T.StructField("n_shards", T.LongType()),
            T.StructField("n_vecs", T.LongType()),
            T.StructField("dim", T.LongType()),
            T.StructField("occupied_lists", T.LongType()),
            T.StructField("max_list_depth", T.LongType()),
            T.StructField("depth_skew", T.DoubleType()),
            T.StructField("probe_rows_worst", T.LongType()),
            T.StructField("probe_bytes_worst", T.LongType()),
            T.StructField("sqrt_n", T.DoubleType()),
            T.StructField("refit_recommended", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(
        [
            {
                "n_lists": n_lists,
                "nprobe": np_k,
                "n_shards": n_shards,
                "n_vecs": total,
                "dim": dim,
                "occupied_lists": occupied,
                "max_list_depth": max_depth,
                "depth_skew": round(max_depth / mean_depth, 6)
                if total
                else 0.0,
                "probe_rows_worst": worst,
                "probe_bytes_worst": worst * row_bytes,
                "sqrt_n": sqrt_n,
                "refit_recommended": refit,
            }
        ],
        schema,
    )


def ivf_list_audit(
    df: DataFrame,
    n_lists_candidates: tuple[int, ...] = (4, 16, 64, 256),
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    assign_m: int = 1,
) -> DataFrame:
    """Price the IVF ``n_lists`` knob BEFORE building the index — the ANN
    family's sizing instrument, closing the audit set
    (:func:`grid_resolution_audit`, ``dedup.lsh_band_audit``,
    ``dedup.contamination_posting_audit``, ``dedup.substring_posting_audit``,
    ``skew.window_frame_audit``: every family with a measured saturation
    mode gets a one-linear-pass go/no-go report). Evidence of need:
    benchmarks/ivf_scale_proof_100x.py — a 16-list config that audits fine
    at 2k vectors saturates by list DEPTH at 200k (constant-fraction
    pruning is not constant work), and the fix was a manual re-tune to
    ~sqrt(N) lists. This instrument makes that re-tune a priced, data-driven
    recommendation instead of a post-hoc migration.

    One row per ``n_lists`` candidate:

    - ``n_lists`` / ``nprobe`` — the candidate config (``nprobe`` clamped
      to the candidate: probing more lists than exist prices as a full
      scan, which is the honest number);
    - ``n_vecs`` — Σ rolled-up list depths for THIS candidate (the
      conservation quotient: equals the valid-vector count unless a depth
      was lost or duplicated in the rollup — the catalog query hash-compares
      it against DuckDB's independent count) and ``dim``;
    - ``occupied_lists`` / ``max_list_depth`` / ``depth_skew``
      (max/mean) — list-depth occupancy: the quantizer-health signal
      (mega-lists = the stale-quantizer smell the 100x proof measured);
    - ``probe_rows_ideal`` = nprobe·N div n_lists (uniform-depth floor)
      vs ``probe_rows_worst`` = Σ of the nprobe deepest lists (the
      adversarial query's scan), each with a ``probe_bytes_*`` twin at
      the embedding's wire size (4·dim+8 B/row) — bytes/query is what
      ``write_partitioned``'s directory pruning actually saves at 100 TB;
    - ``sqrt_n`` and ``recommended`` — the candidate nearest sqrt(N)
      (ties to the larger), the FAISS-guideline operating point the 100x
      proof's re-tune landed on (400 lists at 200k vectors, sqrt = 447);
    - ``assign_m`` / ``member_rows_assigned`` / ``member_bytes_assigned``
      (round 12) — the member-side multi-assignment knob priced: the
      :meth:`IVFIndex.knn_graph` ``assign_m`` recall remedy multiplies
      the member side of the list_id shuffle by a clean linear ×m
      (rows = m·N, bytes at the same 4·dim+8 wire size) — candidate-
      independent, so one column pair prices it for every n_lists.

    Corpus cost is CANDIDATE-INDEPENDENT, mirroring the grid audit's
    Horner rollup: the corpus pays ONE bounded-sample quantizer fit at the
    FINEST candidate plus ONE Arrow assignment pass, aggregated
    immediately to a <= max(n_lists) row depth table. Every coarser
    candidate is priced by NESTED quantization — driver-side weighted
    spherical k-means over the fine CENTROIDS (<= max candidate points,
    depth-weighted) defines coarse lists as unions of fine lists, so
    coarse depths are exact rollups of the fine depth table. Depth stats
    are exact for the nested quantizer and estimates for a direct re-fit
    at the coarse k (a direct fit differs only by centroid placement, not
    by the depth-vs-n_lists trend this audit prices). At 100 TB: one scan,
    one bounded shuffle, zero joins, driver state <= max(n_lists) rows.

    Catalog query ``ivf_list_audit`` pins the cross-engine contract;
    tests/test_round11_fixes.py exercises conservation, the worst>=ideal
    bound, nested-rollup exactness, and the sqrt-N recommendation against
    the 100x proof's corpus shape."""
    import math

    cands = sorted(set(int(k) for k in n_lists_candidates))
    if not cands or cands[0] < 1:
        raise ValueError("n_lists_candidates must be positive ints")
    kmax = cands[-1]
    if kmax > 65536:
        raise ValueError(
            f"finest candidate {kmax} exceeds the 65536-list driver bound "
            "(the depth table and centroid set are driver-side state)"
        )
    eff_nprobe = max(1, int(nprobe))
    eff_assign_m = max(1, int(assign_m))

    ivf = IVFIndex(n_lists=kmax, nprobe=eff_nprobe, seed=seed).fit(
        df, vec_col=vec_col, sample_size=sample_size, iters=iters
    )
    fine_c = ivf.centroids  # (n_fine <= kmax, dim), unit rows
    n_fine = len(fine_c)
    # The single corpus pass: assign to the finest quantizer, aggregate to
    # a bounded (list_id, depth, max dim) table. `dim` rides along so the
    # bytes/query pricing needs no second scan.
    stats = (
        ivf.assign(df, vec_col=vec_col)
        .groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.size(F.col(vec_col))).alias("d"),
        )
        .collect()
    )
    depths = np.zeros(n_fine, dtype=np.int64)
    dim = 0
    for r in stats:
        depths[r["list_id"]] = r["n"]
        dim = max(dim, r["d"] or 0)
    total = int(depths.sum())
    row_bytes = 4 * dim + 8  # array<float> payload + 8B id, the wire size
    # Half-up (not banker's) rounding: this column is hash-compared
    # against DuckDB's round(), which rounds halves away from zero —
    # the repo-wide F.round discipline (ADVICE r11).
    sqrt_n = _round_half_up(math.sqrt(total), 6)

    def coarse_depths(k: int) -> np.ndarray:
        if k >= n_fine:
            return depths
        # Nested quantizer: weighted spherical k-means over the fine
        # centroids. Deterministic init = the k deepest fine lists.
        cc = fine_c[np.argsort(-depths, kind="stable")[:k]].copy()
        for _ in range(iters):
            a = np.argmax(fine_c @ cc.T, axis=1)
            for j in range(k):
                w = depths[a == j]
                if w.sum():
                    cc[j] = np.average(fine_c[a == j], axis=0, weights=w)
            cc /= np.maximum(np.linalg.norm(cc, axis=1, keepdims=True), 1e-12)
        mapping = np.argmax(fine_c @ cc.T, axis=1)
        return np.bincount(mapping, weights=depths, minlength=k).astype(
            np.int64
        )

    # Recommendation: nearest candidate to sqrt(N), ties to the larger —
    # scanning ascending with <= keeps the later (larger) candidate.
    best_k = cands[0]
    best_dist = None
    for k in cands:
        dist = abs(k - math.sqrt(total)) if total else float(k)
        if best_dist is None or dist <= best_dist:
            best_k, best_dist = k, dist

    rows = []
    for k in cands:
        cd = coarse_depths(k)
        np_k = min(eff_nprobe, k)
        n_vecs = int(cd.sum())
        max_depth = int(cd.max()) if len(cd) else 0
        mean_depth = n_vecs / k
        ideal = np_k * n_vecs // k
        worst = int(np.sort(cd)[-np_k:].sum()) if len(cd) else 0
        rows.append(
            {
                "n_lists": k,
                "nprobe": np_k,
                "n_vecs": n_vecs,
                "dim": dim,
                "occupied_lists": int((cd > 0).sum()),
                "max_list_depth": max_depth,
                "depth_skew": round(max_depth / mean_depth, 6)
                if n_vecs
                else 0.0,
                "probe_rows_ideal": ideal,
                "probe_rows_worst": worst,
                "probe_bytes_ideal": ideal * row_bytes,
                "probe_bytes_worst": worst * row_bytes,
                "sqrt_n": sqrt_n,
                "recommended": k == best_k,
                "assign_m": eff_assign_m,
                "member_rows_assigned": eff_assign_m * n_vecs,
                "member_bytes_assigned": eff_assign_m * n_vecs * row_bytes,
                "depths_conserved_ok": n_vecs == total,
                "worst_ge_ideal_ok": worst >= ideal,
                "occupied_le_lists_ok": int((cd > 0).sum()) <= k,
            }
        )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("n_lists", T.LongType()),
            T.StructField("nprobe", T.LongType()),
            T.StructField("n_vecs", T.LongType()),
            T.StructField("dim", T.LongType()),
            T.StructField("occupied_lists", T.LongType()),
            T.StructField("max_list_depth", T.LongType()),
            T.StructField("depth_skew", T.DoubleType()),
            T.StructField("probe_rows_ideal", T.LongType()),
            T.StructField("probe_rows_worst", T.LongType()),
            T.StructField("probe_bytes_ideal", T.LongType()),
            T.StructField("probe_bytes_worst", T.LongType()),
            T.StructField("sqrt_n", T.DoubleType()),
            T.StructField("recommended", T.BooleanType()),
            T.StructField("assign_m", T.LongType()),
            T.StructField("member_rows_assigned", T.LongType()),
            T.StructField("member_bytes_assigned", T.LongType()),
            T.StructField("depths_conserved_ok", T.BooleanType()),
            T.StructField("worst_ge_ideal_ok", T.BooleanType()),
            T.StructField("occupied_le_lists_ok", T.BooleanType()),
        ]
    )
    return df.sparkSession.createDataFrame(rows, schema).orderBy("n_lists")


class RandomHyperplaneLSH:
    """Sign-random-projection LSH (Charikar 2002): bucket id = the sign
    pattern of ``n_planes`` hyperplane dot products. Cosine-similar vectors
    collide with probability (1 - θ/π)^n_planes; multiple tables raise
    recall."""

    def __init__(self, dim: int, n_planes: int = 8, n_tables: int = 4, seed: int = 42):
        rng = np.random.default_rng(seed)
        # planes[t][p] is a unit hyperplane normal.
        self.dim = dim
        self.n_planes = n_planes
        self.n_tables = n_tables
        planes = rng.standard_normal((n_tables, n_planes, dim))
        planes /= np.linalg.norm(planes, axis=2, keepdims=True)
        self._planes = planes

    def _bucket_expr(self, vec: Column, table: int) -> Column:
        """Bucket id for one table: Σ 2^p · [vec · plane_p > 0]."""
        bucket = F.lit(0)
        for p in range(self.n_planes):
            plane = F.array(*[F.lit(float(x)) for x in self._planes[table, p]])
            bucket = bucket + F.when(dot(vec, plane) > 0, F.lit(1 << p)).otherwise(
                F.lit(0)
            )
        return bucket

    def bucketize(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        extra_keys: tuple[str, ...] = (),
    ) -> DataFrame:
        """Corpus side: one row per (table, bucket) per vector. Persist or
        write this out bucketed-by ``bucket`` for repeated query workloads.
        ``extra_keys`` columns ride along (see :meth:`bucketed_pairs`).
        NULL/zero-norm vectors are excluded at entry."""
        df = df.filter(valid_vector(vec_col))
        tables = [
            df.select(
                F.col(id_col),
                F.col(vec_col),
                *[F.col(c) for c in extra_keys],
                F.lit(t).alias("table"),
                self._bucket_expr(F.col(vec_col), t).alias("bucket"),
            )
            for t in range(self.n_tables)
        ]
        out = tables[0]
        for t in tables[1:]:
            out = out.unionByName(t)
        return out

    def query_topk(
        self,
        bucketed: DataFrame,
        query_vec: list[float],
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        probe_bits: int = 1,
    ) -> DataFrame:
        """Probe: score only vectors sharing a bucket with the query in any
        table. ``probe_bits=1`` enables multiprobe — also visit every bucket
        one sign-flip away (the classic recall boost that costs n_planes
        extra bucket lookups, not a bigger index)."""
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        qnp = np.asarray(query_vec, dtype=float)
        conds = []
        for t in range(self.n_tables):
            signs = (self._planes[t] @ qnp > 0).astype(int)
            qbucket = int((signs << np.arange(self.n_planes)).sum())
            probes = {qbucket}
            if probe_bits >= 1:
                probes |= {qbucket ^ (1 << p) for p in range(self.n_planes)}
            conds.append(
                (F.col("table") == t) & F.col("bucket").isin(sorted(probes))
            )
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        return (
            bucketed.filter(cond)
            .select(id_col, vec_col)
            .distinct()
            .select(
                F.col(id_col),
                F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
            )
            .orderBy(F.col("cos_sim").desc(), F.col(id_col))
            .limit(k)
        )

    def bucketed_pairs(
        self, df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
        threshold: float = 0.95, max_bucket: int = 1000,
        extra_keys: tuple[str, ...] = (),
    ) -> DataFrame:
        """All-pairs near-dup at scale: only vectors sharing an LSH bucket
        are compared (vs. the O(N²) of dedup.embedding_cosine_dups).

        ``extra_keys`` columns join the bucket key, so pairs can only form
        between rows agreeing on them — pass a cluster-assignment column for
        SemDeDup-style semantic dedup (examples/semantic_dedup.py): buckets
        shrink by ~|clusters| and every cluster's pair generation proceeds
        as an independent parallel unit."""
        b = self.bucketize(df, vec_col, id_col, extra_keys=extra_keys).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            "table", "bucket", *extra_keys,
        )
        return (
            _bucket_pairs(
                b, ["table", "bucket", *extra_keys], ["v"], max_bucket=max_bucket
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
            )
            .distinct()
            .filter(F.col("cos_sim") >= threshold)
        )


def kmeans_assign(vectors: DataFrame, centroids: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """One Lloyd assignment step: every vector to its max-cosine centroid.
    Centroids (k rows) BROADCAST into a crossJoin; the per-vector argmax is
    a groupBy max(struct) — the shuffle carries (id, cluster, sim) scalars,
    never the vectors."""
    from dampr_spark.functions.vector import cosine

    sims = vectors.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col).alias("id"),
        F.col("cluster"),
        cosine(vec_col, "cvec").alias("sim"),
    )
    best = sims.groupBy("id").agg(
        F.max(F.struct(F.col("sim"), (-F.col("cluster")).alias("negc"))).alias("m")
    )
    return best.select(
        "id", (-F.col("m.negc")).alias("cluster"), F.col("m.sim").alias("sim")
    )


def _seed_centroids_kmeanspp(
    vecs: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    sample_size: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """k-means++ seeding on a bounded DETERMINISTIC sample: order the corpus
    by (xxhash64(id), id) — a fixed pseudo-random total order with no RNG,
    the same trick the dedup samplers use — take the first ``sample_size``
    vectors to the driver (bounded: 2048 x dim doubles ~ 1 MB at dim=64,
    the same documented driver-side budget as IVFIndex's quantizer fit),
    and run the D²-weighted k-means++ draw with a FIXED-seed numpy
    generator in cosine space. Deterministic end-to-end, so two
    independent fits still agree label-for-label (the driver-checked
    ``kmeans_agreement_check`` invariant), while the seeds cover the data
    instead of clumping wherever the lowest ids happen to sit — the
    lowest-id init's documented failure mode on adversarial data."""
    import numpy as np

    rows = (
        vecs.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        .orderBy(F.xxhash64(F.col("id").cast("string")), F.col("id"))
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    chosen = [int(rng.integers(len(X)))]
    d = np.maximum(1.0 - X @ X[chosen[0]], 0.0)
    for _ in range(1, min(k, len(X))):
        tot = d.sum()
        if tot <= 0:  # every sample point coincides with a chosen seed
            break
        nxt = int(rng.choice(len(X), p=d / tot))
        chosen.append(nxt)
        d = np.minimum(d, np.maximum(1.0 - X @ X[nxt], 0.0))
    # Pad (identical-vector corpora) by cycling: ids must still be 1..k.
    while len(chosen) < k:
        chosen.append(chosen[len(chosen) % max(len(chosen), 1) - 1])
    spark = vecs.sparkSession
    return spark.createDataFrame(
        [(i + 1, [round(float(c), 6) for c in X[j]]) for i, j in enumerate(chosen)],
        "cluster int, cvec array<double>",
    )


def kmeans_fit_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    init: str = "kmeanspp",
) -> DataFrame:
    """Fully-distributed Lloyd's k-means over an embedding column —
    assignments after ``iters`` refinement rounds as (id, cluster, sim).

    Unlike :class:`IVFIndex` (whose coarse quantizer trains driver-side on a
    bounded sample), every step here is a DataFrame op, so the clustering
    itself scales to any corpus: per round, k broadcast centroids → cosine
    argmax assignment (one narrow shuffle of scalars) → centroid recompute
    via posexplode + per-(cluster, dim) avg (second narrow shuffle; partial
    aggregation collapses vectors map-side). Centroid tables are k rows —
    localCheckpointed per round so round N's plan doesn't nest N join
    lineages.

    ``init``: ``"kmeanspp"`` (default) seeds with the deterministic
    fixed-seed k-means++ draw over a hash-ordered bounded sample
    (:func:`_seed_centroids_kmeanspp`) — spread-out seeds that survive
    adversarial orderings; ``"lowest_id"`` keeps the legacy k-lowest-ids
    init (still deterministic, degrades when low ids cluster together).
    Both are reproducible run-to-run, so two independent fits agree
    label-for-label (the driver-checked agreement invariant).

    This is the clustering half of SemDeDup-style semantic dedup: cluster,
    then run the in-cluster cosine near-dup pass
    (:func:`RandomHyperplaneLSH.bucketed_pairs` keyed by cluster).

    Plan shape (round 8): a Lloyd round eliminates the corpus SELF-JOIN
    the recompute used to pay — assignment keeps the broadcast-crossJoin
    + groupBy(id) argmax (k rows broadcast; the shuffle partial-aggregates
    map-side) but CARRIES the vector through the aggregate with
    ``first(vec)``, so the posexplode + (cluster, dim) average consumes
    the assignment output directly. One id-keyed shuffle of (one vector +
    scalars per id) per round instead of that PLUS a two-sided join.
    Three rejected alternatives, all measured SLOWER at sf0.1: literal-
    centroid cosines via higher-order lambdas (interpreted per element,
    +25%), literal flat multiply-add chains (~1100 deeply nested Catalyst
    nodes re-planned per round, 3x), and flat per-dimension sum aggregates
    with driver-side averaging (extra per-round planning + collect
    latency, +35%)."""
    from pyspark import StorageLevel

    df = df.filter(valid_vector(vec_col))
    vecs = df.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
    # The source lineage (scan → filter → select) is read iters+2 times
    # (seeding sample, one assign+recompute per round, final assign) —
    # persist it once so every pass after the first reads the cached
    # column batches instead of re-running the scan. At 100 TB this is
    # the difference between 1 corpus scan and iters+2 of them;
    # MEMORY_AND_DISK degrades to spill, never to recompute.
    vecs = vecs.persist(StorageLevel.MEMORY_AND_DISK)
    if init == "kmeanspp":
        # No checkpoint: the seed DF is createDataFrame-backed (a literal
        # local collection, no nondeterministic lineage to pin) — only the
        # per-round recomputed centroids below need one.
        centroids = _seed_centroids_kmeanspp(vecs, vec_col, id_col, k)
    elif init == "lowest_id":
        centroids = (
            vecs.orderBy(id_col)
            .limit(k)
            .select(
                F.row_number().over(Window.orderBy(id_col)).alias("cluster"),
                F.col(vec_col).cast("array<double>").alias("cvec"),
            )
            .localCheckpoint(eager=True)
        )
    else:
        raise ValueError(f"unknown init {init!r}")

    def _recompute(assigned_vecs: DataFrame) -> DataFrame:
        return (
            assigned_vecs.select(
                "cluster", F.posexplode(vec_col).alias("dim", "x")
            )
            .groupBy("cluster", "dim")
            # Round centroid components: F.avg over doubles is not
            # merge-order deterministic, and an unrounded 1-ulp drift could
            # flip a near-tied argmax between runs — 6dp absorbs it (same
            # discipline as the oracle-checked nearest_centroid_assign).
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "c"))),
                    lambda s: s["c"],
                ).alias("cvec")
            )
        )

    from dampr_spark.functions.vector import cosine

    def _assigned_with_vec(cents: DataFrame) -> DataFrame:
        """(cluster, vec) per document — assignment WITHOUT losing the
        vector, so the recompute needs no join back to the corpus."""
        sims = vecs.crossJoin(F.broadcast(cents)).select(
            F.col(id_col).alias("id"),
            F.col("cluster"),
            cosine(vec_col, "cvec").alias("sim"),
            F.col(vec_col),
        )
        best = sims.groupBy("id").agg(
            F.max(F.struct(F.col("sim"), (-F.col("cluster")).alias("negc"))).alias("m"),
            F.first(vec_col).alias(vec_col),
        )
        return best.select((-F.col("m.negc")).alias("cluster"), vec_col)

    for _ in range(iters):
        # Per-round pin honors the reliable-checkpoint knob (pin_once
        # dispatches to pinning.pin when it is set): on a real cluster
        # with executor churn, round N's centroids live in the
        # configured reliable store instead of executor-local disk.
        # pin_once, not pin (round 15): the persist-first two-pass pin
        # is only REQUIRED when a round references the previous pinned
        # frame k>=2 times (stats snowball grows as the k-th power —
        # pinning.pin docstring). A Lloyd round references the previous
        # centroids exactly ONCE (the broadcast crossJoin), so leaf
        # stats grow linearly in bit length — harmless at any iters —
        # and the single localCheckpoint pass drops one job per round.
        # Interleaved A/B at sf0.1: kmeans_clusters 4.40 -> 3.20 s warm,
        # assignments identical (the r14 collect-variant A/B stands
        # rejected; this closes VERDICT r14 next-round #6).
        centroids = _pin_once(_recompute(_assigned_with_vec(centroids)))
    # Pin the final assignment (scalars only: id, cluster, sim) so the
    # cached corpus can be released before returning — callers get a
    # materialized result, not a lineage back into the unpersisted cache.
    out = _pin_once(kmeans_assign(vecs, centroids, vec_col, id_col))
    vecs.unpersist()
    return out


class ScalarQuantizer:
    """Per-dimension min/max INT8 scalar quantization for embedding
    columns — the 4x storage compression an ANN corpus takes before
    sharding (FAISS's SQ8 design, re-expressed as Spark expressions: no
    UDF anywhere).

    ``fit`` is one posexplode min/max aggregate (d rows to the driver —
    bounded); ``encode`` stores codes as ``array<tinyint>`` (1 byte/dim
    + array overhead; at 100 TB write this column instead of the float
    vectors); ``topk`` searches by reconstructing vectors inside a single
    codegen expression pass and ranking exact cosine on the
    reconstruction. Codes use floor(t*255 + 0.5) — explicit half-up, so
    encode/decode is bit-deterministic across engines and runs (min/max
    aggregates are exact; no float-accumulation drift)."""

    def __init__(self):
        self.lo: list[float] | None = None
        self.hi: list[float] | None = None

    def fit(self, df: DataFrame, vec_col: str = "embedding") -> "ScalarQuantizer":
        rows = (
            df.filter(valid_vector(vec_col))
            .select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"))
            .groupBy("pos")
            .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
            .orderBy("pos")
            .collect()
        )
        self.lo = [r["lo"] for r in rows]
        self.hi = [r["hi"] for r in rows]
        return self

    def _bounds(self):
        assert self.lo is not None, "call fit() first"
        los = F.array(*[F.lit(float(v)) for v in self.lo])
        his = F.array(*[F.lit(float(v)) for v in self.hi])
        return los, his

    def encode(
        self, df: DataFrame, vec_col: str = "embedding", out_col: str = "codes"
    ) -> DataFrame:
        """Add ``out_col``: array<tinyint> codes (value range shifted by
        -128 to fit the signed byte). Invalid vectors are dropped (cosine
        is undefined for them anyway). Values outside the fitted per-dim
        [lo, hi] — the train-on-one-corpus / encode-new-data case — clamp
        to the range edges (FAISS SQ8 train/encode semantics) instead of
        producing out-of-byte codes that would wrap on the tinyint cast."""
        los, his = self._bounds()
        v = F.col(vec_col).cast("array<double>")
        dim = len(self.lo)
        code = F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                F.when(
                    F.element_at(his, i) > F.element_at(los, i),
                    F.greatest(
                        F.lit(0.0),
                        F.least(
                            F.lit(255.0),
                            F.floor(
                                (F.element_at(v, i) - F.element_at(los, i))
                                / (F.element_at(his, i) - F.element_at(los, i))
                                * F.lit(255.0)
                                + F.lit(0.5)
                            ),
                        ),
                    ),
                ).otherwise(F.lit(0))
                - F.lit(128)
            ).cast("tinyint"),
        )
        return df.filter(valid_vector(vec_col)).withColumn(out_col, code)

    def decoded(self, codes_col: str = "codes") -> Column:
        """Reconstruction expression: array<double> from the codes."""
        los, his = self._bounds()
        dim = len(self.lo)
        return F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: F.element_at(los, i)
            + (F.element_at(F.col(codes_col), i).cast("double") + F.lit(128.0))
            / F.lit(255.0)
            * (F.element_at(his, i) - F.element_at(los, i)),
        )

    def topk(
        self,
        encoded: DataFrame,
        query_vec: list[float],
        k: int = 10,
        id_col: str = "vec_id",
        codes_col: str = "codes",
    ) -> DataFrame:
        """Exact-cosine top-k over the RECONSTRUCTED vectors — one scan of
        the byte codes + TakeOrdered; the float column never needs to be
        read (or stored)."""
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        rec = self.decoded(codes_col)
        return (
            encoded.select(
                F.col(id_col),
                F.round(cosine(rec, q), 6).alias("cos_sim"),
            )
            .orderBy(F.col("cos_sim").desc(), F.col(id_col))
            .limit(k)
        )


class ProductQuantizer:
    """Product quantization (FAISS PQ design): split each vector into ``m``
    subvectors, learn a ``k``-centroid L2 codebook per subspace on a
    BOUNDED driver-side sample, and store each vector as ``m`` byte codes
    — 64-dim float64 → 8 bytes at m=8 (vs 64 at SQ8, 512 raw). Search is
    ADC (asymmetric distance computation): the query precomputes per-
    subspace lookup tables, so scoring a corpus vector is 2·m table
    lookups inside a single codegen expression — no floats are ever
    stored, decoded, or shuffled.

    Same scale contract as :class:`IVFIndex`: the fit sample stays bounded
    (seeded Bernoulli, no partition-order bias), encode is one Arrow
    batch pass per partition, and the codebooks/tables ride the plan as
    literal arrays (m·k·d/m = dim·k doubles — KBs)."""

    def __init__(self, m: int = 8, k: int = 16, seed: int = 42):
        if not 2 <= k <= 256:
            raise ValueError("k must be in [2, 256] (codes are bytes)")
        self.m = m
        self.k = k
        self.seed = seed
        self.codebooks: np.ndarray | None = None  # (m, k, dim/m)

    def fit(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        sample_size: int = 2048,
        iters: int = 10,
    ) -> "ProductQuantizer":
        """Per-subspace L2 k-means on a bounded uniform sample (same
        sampling discipline as IVFIndex.fit — seeded Bernoulli + numpy
        down-select, never limit())."""
        df = df.filter(valid_vector(vec_col))
        total = df.count()
        sel = df.select(vec_col)
        if total > sample_size:
            frac = min(1.0, 1.2 * sample_size / total)
            sel = sel.sample(fraction=frac, seed=self.seed)
        rows = sel.collect()
        if not rows:
            raise ValueError("no valid vectors to fit the PQ codebooks on")
        x = np.asarray([r[0] for r in rows], dtype=np.float64)
        rng = np.random.default_rng(self.seed)
        if len(x) > sample_size:
            x = x[rng.choice(len(x), size=sample_size, replace=False)]
        dim = x.shape[1]
        if dim % self.m:
            raise ValueError(f"dim {dim} not divisible by m={self.m}")
        dsub = dim // self.m
        books = np.empty((self.m, self.k, dsub))
        for j in range(self.m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            c = sub[rng.choice(len(sub), size=min(self.k, len(sub)), replace=False)]
            for _ in range(iters):
                d2 = ((sub[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
                assign = np.argmin(d2, axis=1)
                for ci in range(len(c)):
                    members = sub[assign == ci]
                    if len(members):
                        c[ci] = members.mean(axis=0)
            books[j, : len(c)] = c
            if len(c) < self.k:  # degenerate tiny-sample case: pad by repeat
                books[j, len(c) :] = c[-1]
        self.codebooks = books
        return self

    def encode(
        self, df: DataFrame, vec_col: str = "embedding", out_col: str = "pq_codes"
    ) -> DataFrame:
        """array<tinyint> of ``m`` codes per vector (shifted −128 like
        ScalarQuantizer), via one Arrow argmin pass per subspace."""
        assert self.codebooks is not None, "call fit() first"
        import pandas as pd
        from pyspark.sql import types as T

        books = self.codebooks
        m, k, dsub = books.shape

        @series_udf(T.ArrayType(T.ByteType()))
        def codes(vecs):
            if not len(vecs):
                return pd.Series([], dtype="object")
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            out = np.empty((len(x), m), dtype=np.int16)
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                # (n, k) squared L2 via ||a||² - 2ab + ||b||²; argmin drops ||a||²
                d2 = -2.0 * (sub @ books[j].T) + (books[j] ** 2).sum(axis=1)[None, :]
                out[:, j] = np.argmin(d2, axis=1) - 128
            return pd.Series([row.astype("int8").tolist() for row in out])

        return df.filter(valid_vector(vec_col)).withColumn(
            out_col, codes(F.col(vec_col))
        )

    def decoded(self, codes_col: str = "pq_codes") -> Column:
        """Reconstruction expression (array<double>): per-subspace codebook
        lookup, flattened — literal-array element_at, no UDF."""
        assert self.codebooks is not None, "call fit() first"
        m, k, dsub = self.codebooks.shape
        out = []
        for j in range(m):
            cb_j = F.array(
                *[
                    F.array(*[F.lit(float(v)) for v in self.codebooks[j, c]])
                    for c in range(k)
                ]
            )
            out.append(
                F.element_at(
                    cb_j,
                    (
                        F.element_at(F.col(codes_col), j + 1).cast("int")
                        + F.lit(129)
                    ),
                )
            )
        return F.flatten(F.array(*out))

    def adc_topk(
        self,
        encoded: DataFrame,
        query_vec: list[float],
        topk: int = 10,
        id_col: str = "vec_id",
        codes_col: str = "pq_codes",
    ) -> DataFrame:
        """ADC search: cosine between the query and each vector's
        RECONSTRUCTION, computed entirely from per-subspace lookup tables —
        numerator ``Σ_j dot(q_j, cb_j[code_j])`` and reconstruction norm
        ``√Σ_j |cb_j[code_j]|²`` are both m element_at's into literal
        arrays. 2·m lookups per row, single codegen pass, no decode."""
        assert self.codebooks is not None, "call fit() first"
        m, k, dsub = self.codebooks.shape
        q = np.asarray(query_vec, dtype=np.float64)
        qn = float(np.linalg.norm(q))
        dots = np.stack(
            [self.codebooks[j] @ q[j * dsub : (j + 1) * dsub] for j in range(m)]
        )  # (m, k)
        n2 = (self.codebooks**2).sum(axis=2)  # (m, k)
        num = None
        rn2 = None
        for j in range(m):
            code = F.element_at(F.col(codes_col), j + 1).cast("int") + F.lit(129)
            dt = F.element_at(
                F.array(*[F.lit(float(v)) for v in dots[j]]), code
            )
            nn = F.element_at(F.array(*[F.lit(float(v)) for v in n2[j]]), code)
            num = dt if num is None else num + dt
            rn2 = nn if rn2 is None else rn2 + nn
        cos = num / F.greatest(
            F.lit(qn) * F.sqrt(rn2), F.lit(1e-12)
        )
        return (
            encoded.select(
                F.col(id_col), F.round(cos, 6).alias("cos_sim")
            )
            .orderBy(F.col("cos_sim").desc(), F.col(id_col))
            .limit(topk)
        )


def fit_grid_bounds(
    df: DataFrame, vec_col: str = "embedding", dims: int = 4
) -> tuple[list[float], list[float]]:
    """Per-dimension (lo, hi) over the first ``dims`` dims of the valid
    vectors — a ``dims``-row aggregate collected to the driver (bounded),
    for callers that need FIXED grid bounds across runs: the streaming
    sink fits on a reference corpus once and every micro-batch reuses the
    same cells (the same fit-on-reference discipline as
    ``fit_value_histogram``)."""
    rows = (
        df.filter(valid_vector(vec_col))
        .select(
            F.posexplode(
                F.slice(F.col(vec_col).cast("array<double>"), 1, dims)
            ).alias("pos", "x")
        )
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("pos")
        .collect()
    )
    if len(rows) != dims:
        raise ValueError(f"expected {dims} dims, got {len(rows)} (empty input?)")
    return [r["lo"] for r in rows], [r["hi"] for r in rows]


def grid_cells(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: int = 4,
    buckets: int = 4,
    bounds: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """Deterministic grid-cell blocking over the first ``dims`` embedding
    dimensions — the candidate-generation stage of grid semantic dedup
    (SemDeDup, Abbas et al. 2023, uses k-means cells; the uniform grid is
    the fully deterministic variant, so the WHOLE pipeline is
    oracle-replayable, unlike the RNG-seeded LSH/k-means blockers).

    Returns one row per valid vector: ``(id, e array<double>, cell)``
    where ``cell`` is the base-``buckets`` integer of the per-dim bucket
    ids. Per-dim bounds are global min/max (exact aggregates — no float
    accumulation drift), the affine bucket transform is the same double
    arithmetic both engines evaluate bit-identically, and a degenerate
    dimension (lo == hi) maps to bucket 0 on both.

    Plan shape for 100 TB: one posexplode min/max over ``dims`` values per
    row (map-side partials to a ``dims``-row table), assembled into a
    1-row broadcast; cell assignment is a pure codegen expression pass —
    the corpus never shuffles to get its cell id. Pass ``bounds`` (from
    :func:`fit_grid_bounds`) to pin the grid across corpora/batches —
    values outside clamp to the edge buckets, exactly like the in-range
    extremes.
    """
    v = (
        df.filter(valid_vector(vec_col))
        .select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("e"))
    )
    if bounds is not None:
        los_lit, his_lit = bounds
        if len(los_lit) != dims or len(his_lit) != dims:
            raise ValueError("bounds must carry exactly `dims` lows and highs")
        mm = v.sparkSession.range(1).select(
            F.array(*[F.lit(float(x)) for x in los_lit]).alias("los"),
            F.array(*[F.lit(float(x)) for x in his_lit]).alias("his"),
        )
    else:
        mm = (
            v.select(F.posexplode(F.slice("e", 1, dims)).alias("pos", "x"))
            .groupBy("pos")
            .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "lo"))),
                    lambda s: s["lo"],
                ).alias("los"),
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "hi"))),
                    lambda s: s["hi"],
                ).alias("his"),
            )
        )
    cell = F.lit(0).cast("long")
    for i in range(1, dims + 1):
        x = F.element_at("e", i)
        lo = F.element_at("los", i)
        hi = F.element_at("his", i)
        b = (
            F.when(
                hi > lo,
                F.least(
                    F.lit(float(buckets - 1)),
                    F.greatest(F.lit(0.0), F.floor((x - lo) / (hi - lo) * F.lit(float(buckets)))),
                ),
            )
            .otherwise(F.lit(0.0))
            .cast("long")
        )
        cell = cell * buckets + b
    return v.crossJoin(F.broadcast(mm)).select("id", "e", cell.alias("cell"))


def semantic_grid_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: int = 4,
    buckets: int = 4,
    tau: float = 0.30,
    max_cell: int = 64,
    bounds: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """Semantic near-dup candidate pairs: grid-cell blocking (see
    :func:`grid_cells`) then EXACT cosine >= ``tau`` within each cell —
    ``(id_a, id_b, cos_sim)`` with ``id_a < id_b``. Cells above
    ``max_cell`` members are dropped (the hot-bucket cap every blocked
    dedup operator in this repo applies: a degenerate cell would
    otherwise go quadratic; the cap is replayed by the oracle, so parity
    is unaffected).

    Blocking recall is a function of grid resolution exactly as SemDeDup's
    is of k: pairs split across cells are skipped BY CONSTRUCTION on both
    engines — this is the candidate generator, not a full similarity join
    (`RandomHyperplaneLSH.bucketed_pairs` is the multi-probe scale path
    when recall must be tunable).

    Plan shape for 100 TB: only (id, cell, vector) shuffles on the cell
    key, collecting each cell's members; in-cell pairs explode in the
    cell's row (:func:`dedup._bucket_pairs`), capped at max_cell^2/2 per
    cell; the cosine is a JVM expression on the pair rows — no UDF, no
    keyed join, no cartesian (the only join is the 1-row grid-bound
    broadcast), and building the frame runs no job. A small input hashes
    on the cell into one partition per core first, so the cosine stage
    is not coalesced to one task (see ``fuzzy_prefix_pairs``).
    """
    cells = _ensure_parallelism(
        grid_cells(df, vec_col, id_col, dims, buckets, bounds), "cell"
    )
    return (
        _bucket_pairs(cells, ["cell"], ["e"], max_bucket=max_cell)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.e"), F.col("b.e")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= tau)
    )


def semantic_grid_probe_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: int = 4,
    buckets: int = 6,
    tau: float = 0.30,
    max_cell: int = 64,
    bounds: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """Neighbor-probing grid pairs — :func:`semantic_grid_pairs` with the
    boundary blindness removed: each point also probes the 3^dims - 1
    adjacent cells, so EVERY pair within per-dim bucket distance <= 1 (in
    the projected dims, both cells under the cap) is guaranteed a
    candidate — same-cell blocking misses a near-identical pair that
    straddles a cell wall BY CONSTRUCTION; this variant cannot. Exact
    guarantee, still fully deterministic and oracle-replayable.

    The price is candidate fan-out: up to 3^dims probe cells per point
    (ids only — vectors are NOT replicated; the A side explodes to
    (id, probe_cell) scalars and fetches its vector back by one id-keyed
    join after the cell match). Tune ``buckets`` up to compensate: at
    dims=4 each +2 buckets/dim cuts the covered volume ~(b/(b+2))^4. The
    pair is emitted exactly once (the probe offset from a's cell to b's
    cell is unique, and only the a < b orientation explodes), so no
    distinct pass is needed.

    Plan shape for 100 TB: the probe explode is 3^dims scalar rows per
    point; both joins are equi-keyed (probe_cell, then id) — no band
    join, no cartesian. The oracle evaluates the SAME pair set through a
    per-dim |d_a - d_b| <= 1 band join: two different strategies, one
    answer, which is the verification point.
    """
    from itertools import product

    from dampr_spark.functions.vector import dot, l2_norm

    # Per-VECTOR norms are computed once here and materialized — the pair
    # stage then pays one dot-product fold per candidate instead of three
    # (dot + both norms), which is 3x less interpreted higher-order-lambda
    # work on the hot path. Bit-identical scores: sqrt per vector and the
    # same left-to-right dot, exactly what cosine() would evaluate.
    # The repartition spreads the single-partition small-corpus scan BEFORE
    # the 3^dims probe explode and the per-vector norm fold run (a one-file
    # corpus otherwise serializes both onto one core — the
    # dedup._ensure_parallelism lesson); at real scale the scan already
    # carries many partitions and this is shuffle-noise on scalar rows.
    weights = [buckets ** (dims - i) for i in range(1, dims + 1)]
    cells = (
        grid_cells(df, vec_col, id_col, dims, buckets, bounds)
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .withColumn("nrm", l2_norm("e"))
        # materialized per-dim digits: the 3^dims probe expressions below
        # each reference every digit — as plain columns the expression tree
        # stays 3^dims * dims COLUMN refs instead of div/mod subtrees
        # (planning cost, measured)
        .withColumns(
            {
                f"_d{i}": ((F.col("cell") - F.col("cell") % w) / w % buckets).cast(
                    "long"
                )
                for i, w in enumerate(weights, start=1)
            }
        )
        .localCheckpoint(eager=True)
    )
    ok = (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= max_cell)
        .select("cell")
    )
    okc = cells.join(F.broadcast(ok), "cell").localCheckpoint(eager=True)

    digits = [F.col(f"_d{i}") for i in range(1, dims + 1)]
    probe_targets = []
    for offs in product((-1, 0, 1), repeat=dims):
        delta = sum(o * w for o, w in zip(offs, weights))
        cond = F.lit(True)
        for d, o in zip(digits, offs):
            cond = cond & (d + o >= 0) & (d + o <= buckets - 1)
        probe_targets.append(F.when(cond, F.col("cell") + F.lit(delta)))
    a = okc.select(
        F.col("id").alias("id_a"),
        F.explode(F.array_compact(F.array(*probe_targets))).alias("pcell"),
    )
    b = okc.select(F.col("cell").alias("pcell"), F.col("id").alias("id_b"))
    # The pcell join carries IDS ONLY (the candidate frame is ~16 bytes a
    # row); vectors join in afterwards. The explicit repartition matters:
    # AQE coalesces these few-MB shuffles to one or two partitions — bytes
    # are what it optimizes — and then the 64-element interpreted cosine
    # fold (the actual cost, CPU not bytes) runs single-task (measured
    # 17 s warm at sf0.1; 2.4 s with the spread). Same lesson as
    # dedup._ensure_parallelism: parallelize BEFORE the expensive pass.
    cand = (
        a.join(b, "pcell")
        .filter(F.col("id_a") < F.col("id_b"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    av = okc.select(
        F.col("id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    bv = okc.select(
        F.col("id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot("ea", "eb") / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= tau)
    )


def grid_resolution_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims_candidates: tuple[int, ...] = (2, 4, 6),
    buckets: int = 4,
    max_cell: int = 64,
) -> DataFrame:
    """Pick the grid resolution BEFORE paying for blocking: one audit row
    per candidate ``dims`` — ``(dims, cells_ge2, cells_over_cap,
    raw_pair_budget, capped_pair_budget, recommended)`` — where
    ``recommended`` marks the COARSEST candidate with zero over-cap cells
    (coarser = fewer split true-neighbor pairs, i.e. best blocking recall
    at equal safety; none marked when every resolution saturates, which
    is itself the report: no grid at these candidates, move to LSH).

    This operationalizes the round-9 100x proof's lesson
    (benchmarks/grid_dedup_scale_proof_100x.py): a grid that audits
    go at one scale SATURATES two decades up — 4^4 cells x cap 64 is
    16k capacity — and the fix is the resolution knob, chosen by exactly
    these columns. SemDeDup turns the same knob as k.

    Corpus cost is CANDIDATE-INDEPENDENT: cell ids are base-``buckets``
    Horner codes over the leading dims, so the cell at ``d`` dims is the
    integer quotient ``cell_finest // buckets^(finest-d)`` — per-dim
    bounds fit independently, making the digit prefixes EXACT. The corpus
    is blocked once at the finest candidate (grid_cells' two documented
    passes: bounds-fit aggregate + cell assignment) into a
    <= buckets^finest-row pinned table; every coarser audit is a rollup
    of that bounded table. At 100 TB the probe costs two scans + one
    bounded shuffle regardless of how many resolutions are candidated
    (plan-locked in tests/test_plan_quality.py).
    """
    cands = sorted(set(int(d) for d in dims_candidates))
    if not cands or cands[0] < 1:
        raise ValueError("dims_candidates must be positive ints")
    finest = cands[-1]
    if buckets < 1 or buckets**finest >= 2**62:
        # Horner cell ids must fit a long with headroom; past 2^53 a
        # DOUBLE division would silently corrupt the prefix rollup too,
        # which is why the rollup below uses exact integer `div`, not
        # F.floor(col / lit) (round-10 ADVICE).
        raise ValueError(
            f"buckets**finest = {buckets}**{finest} overflows the long "
            "Horner cell id; lower buckets or the finest dims candidate"
        )
    fine_counts = (
        grid_cells(df, vec_col, id_col, finest, buckets)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # <= buckets^finest rows, probed per d
    )
    audits = []
    for d in cands:
        q = buckets ** (finest - d)
        per_cell = (
            fine_counts.groupBy(
                # Exact integer division (`div`), NOT F.floor(col / lit):
                # long/long `/` is DOUBLE division, which silently rounds
                # cell ids past 2^53 and corrupts the prefix rollup for
                # user-supplied candidates like buckets=10, dims>=16.
                # Horner codes are non-negative, so div == floor division.
                F.expr(f"cell div CAST({q} AS BIGINT)").alias("c")
            ).agg(F.sum("n").alias("n"))
            if q > 1
            else fine_counts.select(F.col("cell").alias("c"), "n")
        )
        audits.append(
            per_cell.filter(F.col("n") >= 2).agg(
                F.lit(d).cast("long").alias("dims"),
                F.count(F.lit(1)).alias("cells_ge2"),
                F.coalesce(
                    F.sum(F.when(F.col("n") > max_cell, 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("long")
                .alias("cells_over_cap"),
                F.coalesce(F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0))
                .cast("long")
                .alias("raw_pair_budget"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("n") <= max_cell,
                            F.col("n") * (F.col("n") - 1) / 2,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("capped_pair_budget"),
            )
        )
    table = audits[0]
    for a in audits[1:]:
        table = table.unionByName(a)
    best = table.filter(F.col("cells_over_cap") == 0).agg(
        F.min("dims").alias("best_dims")
    )
    return (
        table.crossJoin(F.broadcast(best))
        .select(
            "dims",
            "cells_ge2",
            "cells_over_cap",
            "raw_pair_budget",
            "capped_pair_budget",
            F.coalesce(F.col("dims") == F.col("best_dims"), F.lit(False)).alias(
                "recommended"
            ),
        )
        .orderBy("dims")
    )
