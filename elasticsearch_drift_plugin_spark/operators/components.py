"""Connected components over candidate-duplicate pairs.

The dedup family (dedup.py) emits *pairs* — MinHash/LSH band collisions,
SimHash matches, embedding near-dups. A training-data pipeline then needs
pairs -> clusters -> one canonical survivor per cluster; transitive closure
over the pair graph is what turns "A~B, B~C" into one dedup group {A,B,C}.
The reference has no graph surface at all (SURVEY.md §2.2 — no joins/set
ops); this is a north-star extension built for the 100 TB shape.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) expressed as DataFrame
aggregations + joins:

- large-star: every node connects its strictly-larger neighbors to its
  minimum neighborhood label;
- small-star: every node connects its not-larger neighbors (and itself) to
  the minimum of that set.

Both steps are a groupBy(min) + an equi-join on the node key — partial
aggregation map-side, one shuffle per step, never materializing a
neighborhood list wider than the join. Converges to a star forest in
O(log^2 n) rounds w.h.p. (empirically a handful); each round is
localCheckpoint-ed so the iterative plan does not accumulate lineage —
the same pattern a cluster deployment would run with a checkpoint dir.

Contrast with the naive min-label propagation (O(diameter) rounds — a
50-node chain needs 50 rounds; large/small-star needs 4) and with an
UNBOUNDED driver-side union-find (single-machine memory = not 100 TB
viable). A guarded union-find fast path (``MAX_DRIVER_EDGES``) does serve
graphs small enough to be a bounded control-plane fetch — the verified
pair set is near-dup-density-sized, not corpus-sized, so most real dedup
closures are; the star loop remains the path for everything larger.

The DuckDB oracle is a recursive CTE computing full reachability and
taking MIN over reached nodes — exponentially worse asymptotically, but
exact at oracle scale, and algorithm-independent: it pins the *semantics*
(component = min reachable id) rather than mirroring the star algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sql_literal import literal_frame

# Small-graph fast path (r14): after LSH/GEMM verification the duplicate
# pair graph is usually MUCH smaller than the corpus (near-dup density,
# not corpus size). Below this many edges the transitive closure runs as
# a driver union-find over one bounded collect — the same "bounded
# control-plane fetch behind an explicit guard" contract as the k-means
# centroid loop — instead of 2-4 distributed star rounds
# of ~6 stages each. Above it, the large/small-star loop (the 100 TB
# shape) runs unchanged. Both produce component = min reachable id, so
# results are identical by construction (pytest-pinned both ways). Read at
# call time; <= 0 forces the distributed loop.
MAX_DRIVER_EDGES = 200_000


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) edges -> for each node, link larger neighbors to the min label."""
    bidir = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = bidir.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("u", "mv").alias("m"))
    return (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Key each edge by its larger endpoint; link the smaller ones (and the
    key itself) to the minimum of the group."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    relinked = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    self_links = mins.select("u", F.col("m").alias("v"))
    return relinked.unionByName(self_links).distinct()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # XOR, not SUM: overflow-free under ANSI mode, and a sound set
    # fingerprint because the edge set is distinct at every round.
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Bounded-collect closure for small pair graphs: classic union-find
    with path compression, then component = min member id per root — the
    same semantics the star loop converges to."""
    spark = edges.sparkSession
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        u, v = r["u"], r["v"]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = {n: find(n) for n in parent}
    out_schema = edges.schema
    fields = (
        f"node {out_schema['u'].dataType.simpleString()}, "
        f"component {out_schema['v'].dataType.simpleString()}"
    )
    return literal_frame(spark, sorted(comp.items()), fields)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component): transitive closure of an undirected pair graph;
    ``component`` is the minimum node id reachable from ``node``.

    Only nodes that appear in ``pairs`` are emitted (singletons have no
    pair row — callers left-join the corpus and coalesce to self).

    ``max_rounds`` is a circuit breaker, not a tuning knob: large/small-star
    converges in O(log^2 n) rounds w.h.p., so hitting 25 means the input is
    pathological; we raise rather than return a partial closure.

    :data:`MAX_DRIVER_EDGES` gates the small-graph fast path: at or below
    it the closure is a driver union-find over one bounded collect (the
    fingerprint probe that is needed anyway returns the edge count, so the
    routing costs no extra job); above it the distributed star loop runs.
    Identical output either way — component = min reachable id.
    """
    # lazy localCheckpoint throughout the loop: the fingerprint probe that
    # immediately follows is the FIRST action on the frame, so one job both
    # materializes the round's edge set and computes its fingerprint —
    # eager=True spent a second, separate materialization job per round for
    # the same lineage cap (guide §1.2: fewer jobs/passes before per-task
    # tuning)
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev = _fingerprint(edges)
    guard = MAX_DRIVER_EDGES
    # guard <= 0 means "always distributed" (ADVICE r14 item 3: the tests'
    # documented way to force the star loop — an empty graph must not slip
    # through 0 <= 0). Gate on the DIRECTED distinct edge count; pagerank
    # divides its symmetrized count by 2 so the same graph routes the same
    # way near the guard in both operators.
    if guard > 0 and prev[0] <= guard:
        return _driver_union_find(edges)
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        cur = _fingerprint(nxt)
        edges, done = nxt, cur == prev
        prev = cur
        if done:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # Converged star forest: every edge links a member to its root (the
    # component minimum). comp(node) = least(node, min neighbor): children
    # see the root, the root sees a child (larger) and keeps itself.
    bidir = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return (
        bidir.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("component"))
        .select(F.col("u").alias("node"), "component")
    )


def component_summary(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """(doc_id, component, cluster_size): closure plus per-cluster size —
    the table a dedup pipeline joins against the corpus to keep one
    survivor (doc_id == component) per duplicate group.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"), "component", "cluster_size"
        )
        .orderBy("doc_id")
    )


JACC_KEEP_Q = 500_000  # verified-Jaccard >= 0.5 becomes a dedup edge


def canonical_map(
    corpus: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, canonical): every corpus document mapped to its dedup
    survivor — the component minimum for clustered docs, itself otherwise.
    ``doc_id != canonical`` rows are exactly the set a compaction pass
    drops; downstream joins can rewrite references through this map.

    One left join corpus←components: the component table is #clustered-docs
    rows (≪ corpus), and the join key is the document id — co-partitioned
    with any id-bucketed corpus layout.
    """
    comp = connected_components(pairs)
    return (
        corpus.select(id_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("canonical"),
        )
        .orderBy(id_col)
    )


def quality_canonical_map(
    corpus: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, canonical): like :func:`canonical_map`, but the survivor per
    duplicate cluster is the HIGHEST-quality member (``text.quality_score``,
    ties → lowest id) instead of the minimum id — what a production dedup
    pass actually keeps. The quality join touches only clustered docs
    (#clustered ≪ corpus) and the argmax is a window over cluster members,
    so the added cost is cluster-sized, not corpus-sized."""
    from pyspark.sql import Window

    from .text import quality_score

    comp = connected_components(pairs).withColumnRenamed("node", id_col)
    scores = quality_score(corpus).select(id_col, "score_q")
    w = Window.partitionBy("component").orderBy(
        F.col("score_q").desc(), F.col(id_col).asc()
    )
    survivors = (
        comp.join(scores, id_col)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("component", F.col(id_col).alias("__surv"))
    )
    return (
        corpus.select(id_col)
        .join(comp, id_col, "left")
        .join(survivors, "component", "left")
        .select(
            id_col,
            F.coalesce("__surv", F.col(id_col)).alias("canonical"),
        )
        .orderBy(id_col)
    )


def quality_canonical_oracle_sql(pairs_sql: str, threshold_clause: str = "") -> str:
    from .text import quality_sql

    return f"""{_closure_ctes(pairs_sql, threshold_clause)},
__scores AS (SELECT doc_id, score_q FROM ({quality_sql()})),
__surv AS (
  SELECT component, doc_id AS surv FROM (
    SELECT c.component, c.node AS doc_id,
           ROW_NUMBER() OVER (PARTITION BY c.component
                              ORDER BY s.score_q DESC, c.node ASC) AS rn
    FROM __comp c JOIN __scores s ON s.doc_id = c.node
  ) WHERE rn = 1
)
SELECT d.doc_id, COALESCE(v.surv, d.doc_id) AS canonical
FROM documents d
LEFT JOIN __comp c ON c.node = d.doc_id
LEFT JOIN __surv v ON v.component = c.component
ORDER BY d.doc_id
"""


def semantic_canonical_map(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """(vec_id, canonical, kept): SemDeDup-style semantic pruning — items
    whose embeddings are near-duplicates (cosine ≥ threshold, transitively)
    collapse to one survivor; ``kept`` marks the rows a curation pass
    retains. The published SemDeDup recipe clusters with k-means first and
    dedups within clusters; here the pair source is pluggable — exact
    blocked-GEMM pairs (``dedup.embedding_neardup_pairs``) for the oracle,
    k-means/IVF cells or LSH buckets (similarity.py) as the approximate
    100 TB pre-bucketing.

    Same plan shape as :func:`canonical_map`: closure over pair graph
    (pairs-sized), one left join against the corpus (id-co-partitioned).
    """
    comp = connected_components(pairs, src="vec_a", dst="vec_b").withColumnRenamed(
        "node", "vec_id"
    )
    return (
        emb.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).alias("canonical"),
        )
        .withColumn("kept", F.col("canonical") == F.col("vec_id"))
        .orderBy("vec_id")
    )


def semantic_canonical_oracle_sql(emb_pairs_sql: str) -> str:
    pairs = f"SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({emb_pairs_sql})"
    return f"""{_closure_ctes(pairs, "")}
SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS canonical,
       COALESCE(c.component, e.vec_id) = e.vec_id AS kept
FROM embeddings e LEFT JOIN __comp c ON c.node = e.vec_id
ORDER BY e.vec_id
"""


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping_num: int = 85,
    quant: int = 1_000_000_000,
    tol_q: int = 1_000,
) -> DataFrame:
    """(node, rank_q): integer-quantized PageRank over the undirected pair
    graph — the "which duplicate is the hub" / corpus-authority signal a
    dedup cluster can use to pick survivors (rank-weighted canonical
    choice), and the third iterative-algorithm shape in the repo next to
    large/small-star and Lloyd's k-means.

    Determinism: ranks live as INTEGER quanta (1e-9 units). Each
    iteration a node sends ``(rank_q - rank_q mod deg) div deg`` to every
    neighbor (exact integer split; the sub-quantum remainder is dropped,
    bounded by deg quanta per node per round), sums arrive as integer
    additions (order-free — no float accumulation anywhere), and damping
    is integer ``(85 · m_q) div 100``. So the fixpoint is bit-identical
    across partitionings, runs, and engines — unlike float PageRank,
    whose shuffle-order float sums drift. Mass is NOT renormalized;
    invariants pin conservation up to the documented dropped remainders.

    Scale: per iteration one groupBy-sum shuffle keyed by node (partial
    agg map-side) + a broadcast-free equi-join of ranks to edges;
    localCheckpoint per round caps lineage like the components loop.
    """
    bidir = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    # deg is static across rounds — attach it to the edge table ONCE before
    # the loop instead of re-joining ranks⋈deg every round (guide §2.4:
    # hoist loop-invariant joins; one shuffle now instead of one per round).
    # send_q = f(rank_q, deg) is computed per edge row instead of per node —
    # identical integer arithmetic, identical result.
    deg = bidir.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = bidir.join(deg, "u").localCheckpoint(eager=False)
    base_q = (100 - damping_num) * quant // 100
    n_edges = edges_deg.count()
    # n_edges counts the SYMMETRIZED (bidirectional) rows — ~2x the
    # directed distinct count connected_components gates on — so the
    # guard is doubled to keep the two operators' routing consistent near
    # the boundary (ADVICE r14 item 3); MAX_DRIVER_EDGES <= 0 still forces
    # distributed.
    guard = 2 * MAX_DRIVER_EDGES
    if guard > 0 and n_edges <= guard:
        # Small-graph fast path (r14, same guard/contract as
        # connected_components): the quantized recurrence is exact integer
        # arithmetic — Python // and % on the non-negative longs ARE
        # Spark's div and pmod — so a driver replay over one bounded
        # collect is bit-identical to the distributed loop, for the same
        # reason the DuckDB recursive-CTE oracle is.
        rows = edges_deg.collect()
        adj = [(r["u"], r["v"], r["deg"]) for r in rows]
        rank = {u: quant for u, _, _ in adj}
        for _ in range(n_iter):
            m: dict = {}
            for u, v, d in adj:
                m[v] = m.get(v, 0) + (rank[u] - rank[u] % d) // d
            new_rank = {
                node: base_q + (damping_num * m.get(node, 0)) // 100
                for node in rank
            }
            moved = any(
                abs(new_rank[n] - rank[n]) > int(tol_q) for n in rank
            )
            rank = new_rank
            if not moved:
                break
        out = literal_frame(
            edges.sparkSession,
            sorted(rank.items()),
            f"node {edges_deg.schema['u'].dataType.simpleString()}, rank_q long",
        )
        return out.orderBy(F.col("rank_q").desc(), "node")
    # the count above already materialized the lazy checkpoint
    nodes = edges_deg.select(F.col("u").alias("node")).distinct()
    ranks = nodes.withColumn("rank_q", F.lit(quant).cast("long"))
    for _ in range(n_iter):
        contrib = (
            ranks.join(edges_deg, F.col("node") == F.col("u"))
            .withColumn("send_q", F.expr("(rank_q - pmod(rank_q, deg)) div deg"))
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("send_q").alias("m_q"))
        )
        # carry the previous rank through the projection so the convergence
        # probe below is a scan of THIS frame, not a new-vs-old join —
        # `ranks` always holds exactly the `nodes` rows, so left-joining
        # contrib onto it reproduces the nodes⋈contrib frame bit-for-bit
        new_ranks = (
            ranks.withColumnRenamed("rank_q", "__prev_q")
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base_q)
                    + F.expr(f"({damping_num} * coalesce(m_q, 0)) div 100")
                ).cast("long").alias("rank_q"),
                "__prev_q",
            )
            .localCheckpoint(eager=False)
        )
        # convergence test — integer ranks make the per-node delta exact;
        # the ±1-quantum damping-division oscillation means a strict
        # fixpoint may never land, so stop once every node moved <= tol_q
        # quanta (1e-6 rank units at the default). O(1)-row probe per
        # round; as the FIRST action it also materializes the round's lazy
        # localCheckpoint, so each round is ONE job (was three: eager
        # checkpoint + a join-shaped probe).
        moved = (
            new_ranks.where(F.expr(f"abs(rank_q - __prev_q) > {int(tol_q)}"))
            .limit(1)
            .count()
        )
        ranks = new_ranks.select("node", "rank_q")
        if moved == 0:
            break
    return ranks.orderBy(F.col("rank_q").desc(), "node")


def queries() -> dict:
    from ..sources.flows import load_table
    from . import dedup

    def _pairs(s, d):
        return dedup.minhash_lsh_pairs(load_table(s, d, "documents")).where(
            F.col("jacc_q") >= JACC_KEEP_Q
        )

    return {
        # MinHash/LSH verified pairs at j >= 0.5 -> transitive duplicate
        # groups; survivor per group = the component id itself
        "dedup_components": lambda s, d: component_summary(_pairs(s, d)),
        # iterative fixpoint, but integer-quantized => oracle-PAIRED via a
        # recursive-CTE replay (pagerank_oracle_sql); conservation/ordering
        # invariants additionally pytest-pinned
        "graph_pagerank": lambda s, d: pagerank(
            _pairs(s, d).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        ),
        # full-corpus survivor map (the compaction step's driving table)
        "dedup_canonical_map": lambda s, d: canonical_map(
            load_table(s, d, "documents"), _pairs(s, d)
        ),
        # production variant: keep the best-quality cluster member
        "dedup_quality_canonical": lambda s, d: quality_canonical_map(
            load_table(s, d, "documents"), _pairs(s, d)
        ),
        # SemDeDup: embedding-cosine near-dup clusters -> one survivor
        "dedup_semantic": lambda s, d: semantic_canonical_map(
            load_table(s, d, "embeddings"),
            dedup.embedding_neardup_pairs(load_table(s, d, "embeddings")),
        ),
    }


def oracle_sql() -> dict:
    from . import dedup

    return {
        "dedup_components": components_oracle_sql(
            dedup.minhash_pairs_sql(), f"WHERE jacc_q >= {JACC_KEEP_Q}"
        ),
        "dedup_canonical_map": canonical_oracle_sql(
            dedup.minhash_pairs_sql(), f"WHERE jacc_q >= {JACC_KEEP_Q}"
        ),
        "graph_pagerank": pagerank_oracle_sql(
            dedup.minhash_pairs_sql(), f"WHERE jacc_q >= {JACC_KEEP_Q}"
        ),
        "dedup_quality_canonical": quality_canonical_oracle_sql(
            dedup.minhash_pairs_sql(), f"WHERE jacc_q >= {JACC_KEEP_Q}"
        ),
        "dedup_semantic": semantic_canonical_oracle_sql(dedup.EMB_NEARDUP_SQL),
    }


def pagerank_oracle_sql(
    pairs_sql: str,
    threshold_clause: str = "",
    n_iter: int = 10,
    damping_num: int = 85,
    quant: int = 1_000_000_000,
    tol_q: int = 1_000,
) -> str:
    """DuckDB twin of :func:`pagerank` — possible ONLY because the operator
    quantizes ranks to integers (every step is order-free integer
    arithmetic, so a recursive CTE reproduces the fixpoint bit-exactly;
    float PageRank could never be cross-engine hash-matched).

    The recursion carries the full iteration history ``(it, node,
    rank_q)``; every node has >= 1 inbound edge by construction (the edge
    set is symmetrized), so the per-iteration GROUP BY covers all nodes
    and the operator's left-join-coalesce never fires. The operator's
    early stop (break once no node moved > ``tol_q``) is replayed OUTSIDE
    the recursion: iterations are cheap at oracle scale, so all ``n_iter``
    are materialized and the emitted snapshot is the first one whose
    predecessor delta is within tolerance — exactly the loop's exit state.
    """
    base_q = (100 - damping_num) * quant // 100
    return f"""
WITH RECURSIVE __pairs AS ({pairs_sql}),
__pp AS (SELECT doc_a, doc_b FROM __pairs {threshold_clause}),
__e(u, v) AS (
  SELECT DISTINCT u, v FROM (
    SELECT doc_a AS u, doc_b AS v FROM __pp
    UNION ALL SELECT doc_b AS u, doc_a AS v FROM __pp
  )
),
__deg AS (SELECT u AS node, COUNT(*) AS deg FROM __e GROUP BY u),
__pr(it, node, rank_q) AS (
  SELECT 0, node, CAST({quant} AS BIGINT) FROM __deg
  UNION ALL
  SELECT t.it + 1, e.v,
         CAST({base_q} + ({damping_num}
              * SUM((t.rank_q - t.rank_q % d.deg) // d.deg)) // 100 AS BIGINT)
  FROM __pr t JOIN __deg d ON d.node = t.node JOIN __e e ON e.u = t.node
  WHERE t.it < {int(n_iter)}
  GROUP BY t.it, e.v
),
__moved AS (
  SELECT n.it,
         MAX(CASE WHEN abs(n.rank_q - o.rank_q) > {int(tol_q)}
             THEN 1 ELSE 0 END) AS any_moved
  FROM __pr n JOIN __pr o ON o.node = n.node AND o.it = n.it - 1
  GROUP BY n.it
),
__stop AS (
  SELECT COALESCE(MIN(it) FILTER (WHERE any_moved = 0), {int(n_iter)}) AS s
  FROM __moved
)
SELECT node, rank_q FROM __pr WHERE it = (SELECT s FROM __stop)
ORDER BY rank_q DESC, node
"""


def _closure_ctes(pairs_sql: str, threshold_clause: str) -> str:
    return f"""
WITH RECURSIVE __pairs AS ({pairs_sql}),
__p AS (SELECT doc_a, doc_b FROM __pairs {threshold_clause}),
__edges AS (
  SELECT doc_a AS s, doc_b AS t FROM __p
  UNION
  SELECT doc_b AS s, doc_a AS t FROM __p
),
__nodes AS (SELECT DISTINCT s AS node FROM __edges),
__walk(node, reach) AS (
  SELECT node, node FROM __nodes
  UNION
  SELECT w.node, e.t FROM __walk w JOIN __edges e ON e.s = w.reach
),
__comp AS (
  SELECT node, MIN(reach) AS component FROM __walk GROUP BY node
)"""


def components_oracle_sql(pairs_sql: str, threshold_clause: str = "") -> str:
    """DuckDB twin: full reachability via a recursive CTE, component = MIN
    over reached nodes. Semantics-pinning, not algorithm-mirroring."""
    return f"""{_closure_ctes(pairs_sql, threshold_clause)},
__sizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM __comp GROUP BY component
)
SELECT c.node AS doc_id, c.component, s.cluster_size
FROM __comp c JOIN __sizes s USING (component)
ORDER BY doc_id
"""


def canonical_oracle_sql(pairs_sql: str, threshold_clause: str = "") -> str:
    """DuckDB twin of :func:`canonical_map`."""
    return f"""{_closure_ctes(pairs_sql, threshold_clause)}
SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical
FROM documents d LEFT JOIN __comp c ON c.node = d.doc_id
ORDER BY d.doc_id
"""
