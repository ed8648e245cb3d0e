"""ES ``_search`` request compiler — run a whole reference-style search
body (query clause + aggs tree) against a DataFrame.

This is the consumption interface of the reference plugin: every
`proportional_sum` the reference ever executes arrives as JSON inside
``_search`` (README.md:92-115; ProportionalSumAggregationBuilder parses the
same fields this module maps). With :mod:`es_dsl` compiling the ``query``
clause and this module compiling ``aggs``, a user's existing request bodies
run verbatim:

    results = run_search(flows_df, body)       # {agg_name: DataFrame}

Supported ``aggs`` nodes:

- ``proportional_sum`` — the plugin's own agg, full parameter surface
  (positional ``fields`` [start, end, value(, sampling)], ``interval`` /
  ``calendar_interval`` (calendar wins — the reference's precedence rule),
  ``offset``, ``start``/``end``, ``min_doc_count``, ``extended_bounds``,
  ``hard_bounds``, ``format``, ``order``, ``time_zone``) → the engine's
  :func:`proportional_sum` operator;
- ``date_histogram`` — instants (``field`` + ``fixed_interval`` /
  ``calendar_interval``) as the degenerate zero-duration proportional sum
  (reference row-12 semantics: the whole value lands in one bucket);
- ``terms`` — with optional nested metric sub-aggs and a nested
  ``proportional_sum`` or ``date_histogram`` (compiled to the operator's
  ``group_by``, the reference's §3.3 nesting route); ``include`` /
  ``exclude`` (value list or anchored regex), ``min_doc_count``
  (leaf-level), ``missing``, ``order``, per-level ``size``;
  ``shard_size`` accepted and ignored (exact global buckets);
- ``range`` / ``histogram`` / ``filters`` — the operator family in
  ``operators.es_aggs`` (the filters node's sub-bodies are themselves DSL
  queries, compiled through the same clause compiler);
- ``filter`` — the single-bucket context-narrowing agg: its DSL body
  filters the frame for one nested sub-agg (or yields the one-bucket
  doc_count frame when it has no children);
- ``global`` — the context-ESCAPING single-bucket agg: its sub-tree sees
  the unfiltered frame, ignoring the body's ``query``;
- ``auto_date_histogram`` — span-driven rounding from the ES ladder
  (``operators.es_aggs.auto_date_histogram``);
- metric leaves ``sum`` / ``avg`` / ``min`` / ``max`` / ``value_count`` /
  ``cardinality`` — standalone (sibling aggs), nested under ``terms``
  (including the leaf level of terms-in-terms), or nested under
  ``proportional_sum`` / ``date_histogram`` (compiled to the operator's
  per-bucket ``extra_aggs``);
- ``percentiles`` / ``percentile_ranks`` — exact interpolated percentiles
  (quantized to ``10^-quantize`` for cross-engine determinism) and exact
  ≤-probe rank fractions (``operators.es_aggs.percentile_ranks``);
- ``top_hits`` under ``terms`` — the per-bucket best-documents window
  (``operators.es_metrics.top_hits_agg``);
- ``geohash_grid`` / ``geotile_grid`` — the geo cell aggs
  (``operators.geo``; a geo_point field is two relational columns,
  ``lat_field``/``lon_field`` defaulting to ``lat``/``lon`` — the same
  convention as the ``es_dsl`` geo clauses);
- the whole standalone metric/bucket family over a general field:
  ``stats`` / ``extended_stats`` / ``weighted_avg`` /
  ``median_absolute_deviation`` / ``boxplot`` / ``string_stats`` /
  ``matrix_stats`` (pairwise) / ``t_test`` (two DSL-filter sides) /
  ``top_metrics`` / ``rare_terms`` / ``adjacency_matrix`` (DSL filter
  intersections) / ``variable_width_histogram`` / ``categorize_text`` /
  ``significant_text`` / ``geo_bounds`` / ``geo_centroid`` — each
  dispatching to its operator in ``operators.es_aggs`` /
  ``operators.es_metrics`` / ``operators.geo``;
- ``random_sampler`` — 1/k deterministic salted-hash sample with exact
  integer scale-up; accepts one plain ``terms`` sub-agg as the group key;
- ``nested`` / ``reverse_nested`` — context switch into an
  ``array<struct>`` path's sub-documents (fields keep their ES spelling
  ``path.field``); ``reverse_nested`` under a terms sub-agg reports the
  PARENT doc count per bucket;
- ``sampler`` — deterministic best-``shard_size`` sample (salted-hash
  rank, TakeOrdered — never a full sort) feeding one sub-agg frame;
- ``geo_distance`` — haversine ring ranges from an ``origin`` (object /
  "lat,lon" string / GeoJSON array forms; ``unit`` m/km/mi), compiled to
  ``operators.geo.geo_distance_agg``'s contiguous edge ladder;
- ``ip_range`` — dotted-quad string field → uint32 via a native HOF fold,
  ``from``/``to``/``mask`` (CIDR) ranges, overlap allowed, request order;
- ``ip_prefix`` — one bucket per /``prefix_length`` network over the same
  string→uint32 fold, keyed by network address (IPv4 only);
- ``top_hits`` standalone — global best ``size`` docs by the sort spec
  (TakeOrdered; ``_source.includes`` prunes the scan) — the terms route
  compiles the per-bucket nested form;
- ``frequent_item_sets`` — the Apriori operator over per-doc baskets of
  ``field:value`` items; fractional ``minimum_support`` resolves against
  the basket count;
- pipeline sub-aggs under a histogram node: ``cumulative_sum``,
  ``derivative``, ``serial_diff``, ``moving_fn`` (the deterministic
  MovingFunctions builtins ``max``/``min``/``sum``/``unweightedAvg``/
  ``linearWeightedAvg``/``ewma(values, a)``/``stdDev(values,
  unweightedAvg(values))``), ``bucket_script`` / ``bucket_selector``
  (``params.<name>`` script over ``buckets_path`` columns), ``normalize``
  (the ES 8.x method set), ``moving_percentiles`` (exact interpolated
  percentile over the trailing window), ``inference`` (inline
  linear/logistic model over ``buckets_path`` inputs — the engine takes
  the weights in the body), and ``bucket_sort`` (sort/from/size
  truncation of the bucket list). ``significant_terms`` supports ES's
  ``background_filter`` (narrows the background set) and the scoring
  heuristics ``jlh``/``chi_square``/``percentage``;
  ``auto_date_histogram`` takes ``minimum_interval``. ``post_filter``
  narrows the hits only (aggs keep the query context); aggs beside a
  ``knn`` section facet the k retrieved hits. ``significant_text`` takes
  ``background_filter`` too; ``histogram``/``date_histogram`` accept one
  ``terms`` bucket child (flattened (bucket, term) rows, per-bucket
  top-``size`` ranking); ``collapse.inner_hits`` yields the per-group
  runner-up lists as the reserved ``"_inner_hits"`` frame; a ``knn``
  section with ``index: {path, nprobe}`` probes a stored IVF index
  (``operators.similarity.build_ivf_index``) and scans only the probed
  cell partitions — the 100 TB serving tier.

Sibling pipeline aggs: ``avg_bucket`` / ``sum_bucket`` / ``min_bucket`` /
``max_bucket`` / ``stats_bucket`` / ``percentiles_bucket`` /
``change_point`` (most-likely step-change split of a sibling's bucket
series) / ``bucket_correlation`` (Pearson against a caller-provided
indicator) / ``bucket_count_ks_test`` (exact two-sample KS D between two
groups of a grouped sibling) — all result-sized, resolved after their
targets.

Unknown agg types raise ``ValueError`` — never silently dropped.
:func:`render_response` shapes the result dict as the ES response's
``aggregations`` object (list or ``keyed`` bucket forms) for the serving
edge.

Each top-level agg is an independent DataFrame over the query-filtered
frame (exactly ES's sibling semantics: siblings share the query context,
not each other's buckets). Hits retrieval: ``size`` > 0 WITH an explicit
``sort`` yields the reserved ``"_hits"`` frame (``search_after`` cursor /
``from`` offset / ``_source.includes`` projection; TakeOrdered, never a
full sort); a bare ``size`` stays aggs-only (the reference's own examples
use ``size: 0``, and the engine has no ``_score`` to sort by).
``collapse`` (field collapsing) keeps the best hit per collapse-field
value under the body's sort before pagination; a top-level ``knn``
section (ES 8.x vector search) returns the exact similarity top-k with
the spec's pre-``filter`` (``num_candidates`` accepted — exact search is
recall 1.0); the knn+query score-sum union raises. ``highlight`` emits a
``<field>_highlight`` column wrapping every query-matched token
(whole-field mode; fragmenting raises). ``script_fields`` adds per-hit
computed columns (SQL-expression scripts, usable as sort keys); the ES 8
``fields`` list is accepted alongside ``_source.includes`` for
projection. A top-level ``retriever`` tree (ES 8.14) supports
``standard`` / ``knn`` / ``rrf`` nodes — RRF fuses its children's
TakeOrdered windows by the exact-integer reciprocal-rank quanta.
:func:`run_count` and :func:`run_msearch` wrap the ``_count`` /
``_msearch`` APIs; :func:`paginate_composite` drives the composite
``after_key`` loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .es_dsl import compile_query
from .es_dsl import compile_query_sql as _compile_query_sql
from .sql_literal import literal_frame


def compile_query_sql_expr(q: dict) -> str:
    """compile_query_sql in the SPARK dialect. Every string this module
    produces is executed Spark-side via ``F.expr`` (filters/adjacency
    predicates, significant_* foreground/background, t_test sides), so
    it must use Spark's array-lambda spelling for ``nested`` clauses —
    the duckdb-default spelling ``len(list_filter(...))`` does not parse
    in Spark SQL (ADVICE r12 item 1). Oracle/DuckDB consumers call
    es_dsl.compile_query_sql directly with its duckdb default."""
    return _compile_query_sql(q, dialect="spark")

_MISSING_STASH = "__premissing_{f}"


def _stash_grouping_missing(df: DataFrame, field: str, missing_val):
    """Apply a bucketing agg's ``missing`` to its grouping field. ES
    scopes ``missing`` PER-AGG (ADVICE r12 item 3): the bucketing
    substitutes, but a metric sub-agg over the SAME field WITHOUT its
    own ``missing`` still skips null docs. So stash the original column
    under a reserved name before overwriting the grouping field —
    :func:`_metric_input` reads the stash when present, restoring ES's
    per-agg scoping. The stash never reaches output frames (it is
    neither a group key nor an agg alias), and the proportional_sum /
    histogram operators carry extra_aggs-referenced columns through
    their explode projections."""
    stash = _MISSING_STASH.format(f=field)
    if stash not in df.columns:
        df = df.withColumn(stash, F.col(field))
    return df.withColumn(
        field, F.coalesce(F.col(field), F.lit(missing_val))
    )


def _metric_input(mspec: dict, df: DataFrame | None = None):
    """The metric leaf's input column. ES metric ``missing`` substitutes
    a value for docs lacking the field (r12 — previously dropped
    SILENTLY: a null row neither counted nor summed in the engine but
    does in ES whenever ``missing`` is set, a silent divergence). When
    the enclosing bucketing agg substituted its own ``missing`` into the
    same field, the pre-substitution stash (``_stash_grouping_missing``)
    is read instead — the metric's null scope is its OWN spec's."""
    if "field" not in mspec:
        raise ValueError(
            "metric aggs need a field (scripts are not supported — compute"
            " the expression with runtime_mappings, the engine's SQL script"
            " dialect, and aggregate that field)"
        )
    fname = mspec["field"]
    stash = _MISSING_STASH.format(f=fname)
    if df is not None and stash in df.columns:
        fname = stash
    col = F.col(fname)
    if "missing" in mspec:
        col = F.coalesce(col, F.lit(mspec["missing"]))
    return col


_METRICS = {
    "sum": lambda f: F.sum(f),
    "avg": lambda f: F.avg(f),
    "min": lambda f: F.min(f),
    "max": lambda f: F.max(f),
    "value_count": lambda f: F.count(f).cast("long"),
    "cardinality": lambda f: F.countDistinct(f).cast("long"),
}


_SIBLING_PIPELINES = {
    "avg_bucket": F.avg,
    "sum_bucket": F.sum,
    "min_bucket": F.min,
    "max_bucket": F.max,
}

# multi-column sibling pipelines (handled separately from the single-value
# reducers above): stats_bucket / percentiles_bucket over a sibling's
# bucket column — result-sized aggregations, never a second data pass.
# change_point / bucket_correlation are ES 8.x analytic siblings riding
# the same resolution (operators.pipeline / an inline Pearson corr).
_SIBLING_MULTI = (
    "stats_bucket", "percentiles_bucket", "change_point", "bucket_correlation",
    "bucket_count_ks_test",
)


def _join_inner_hits_frame(hits: DataFrame, rec: dict) -> DataFrame:
    """Materialize one has_child/has_parent ``inner_hits`` record (from
    es_dsl's join-clause rewriter) against the final hit frame: semi-join
    the matched other-side rows to the hit set's join keys, then one
    window pass per key — top-``size`` (ES default 3) under the spec's
    sort, tagged ``_inner_rank``. The sort is REQUIRED (filter context
    has no ``_score`` to default to) and should be total for
    deterministic output; ``row_number`` breaks residual ties
    arbitrarily, as ES does."""
    from pyspark.sql.window import Window

    spec = rec["spec"]
    size = int(spec.get("size", 3))
    ents = spec.get("sort")
    if not ents:
        raise ValueError(
            "has_child/has_parent inner_hits needs an explicit sort"
            " (filter context has no _score); e.g."
            ' {"sort": [{"l_quantity": "desc"}]}'
        )
    if isinstance(ents, (str, dict)):
        ents = [ents]
    order = []
    for ent in ents:
        if isinstance(ent, str):
            order.append(F.col(ent).asc())
        else:
            (c, o), = ent.items()
            d = str(o if isinstance(o, str) else o.get("order", "asc"))
            order.append(F.col(c).desc() if d.lower() == "desc" else F.col(c).asc())
    matched, ok, lk = rec["matched"], rec["other_key"], rec["local_key"]
    keys = hits.select(F.col(lk).alias("__pk")).distinct()
    joined = matched.join(keys, F.col(ok) == F.col("__pk"), "left_semi")
    w = Window.partitionBy(ok).orderBy(*order)
    return (
        joined.withColumn("_inner_rank", F.row_number().over(w))
        .where(F.col("_inner_rank") <= size)
        .orderBy(ok, "_inner_rank")
    )


def _rescore_hits(hits: DataFrame, rs: dict, keep: list) -> DataFrame:
    """The ES ``rescore`` section (r13) over a SCORED hits page (a frame
    carrying ``_score_q`` — the knn/retriever tiers; the engine has no
    text ``_score``, so the ``rescore_query`` must be ``script_score``
    in the SQL expression dialect, optionally with an inner filter
    ``query``). Lucene's QueryRescorer contract: only the top
    ``window_size`` of the ORIGINAL ranking rescores; a window doc not
    matching the inner query keeps ``query_weight * original`` (the
    secondary term is absent, any score_mode); docs outside the window
    keep their original score untouched. score_mode ∈ total / multiply
    / avg / max / min. All arithmetic runs on the integer 1e-6 quanta
    (multiply/avg re-quantized), so both engines replay it exactly.
    The page is result-sized — this is coordinator-tier work, never a
    corpus pass."""
    from pyspark.sql import Window

    if isinstance(rs, (list, tuple)):
        # ES accepts a LIST of rescore sections (applied in sequence);
        # the single-element form unwraps, chains raise loudly (r14)
        if len(rs) != 1:
            raise ValueError(
                f"{len(rs)} chained rescore sections are unsupported —"
                " apply one rescore per _search"
            )
        rs = rs[0]
    spec = rs["query"]
    window = int(rs.get("window_size", 10))
    qw = float(spec.get("query_weight", 1.0))
    rqw = float(spec.get("rescore_query_weight", 1.0))
    mode = str(spec.get("score_mode", "total")).lower()
    rq = spec["rescore_query"]
    (rkind, rbody), = rq.items()
    if rkind != "script_score":
        raise ValueError(
            "rescore_query must be script_score (the engine's SQL"
            " expression dialect — there is no text _score to rescore"
            " with)"
        )
    from .es_dsl import _script_source, compile_query

    src = _script_source(rbody)
    order = [F.col("_score_q").desc()] + [F.col(c).asc() for c in keep]
    ranked = hits.withColumn(
        "__orig_rank", F.row_number().over(Window.orderBy(*order))
    )
    sec_q = F.floor(F.expr(src) * F.lit(1e6)).cast("long")
    matched = (
        compile_query(rbody["query"]) if "query" in rbody else F.lit(True)
    )
    a = F.lit(qw) * F.col("_score_q")          # weighted quanta
    b = F.lit(rqw) * sec_q
    if mode == "total":
        comb = a + b
    elif mode == "multiply":
        comb = a * b / F.lit(1e6)
    elif mode == "avg":
        comb = (a + b) / F.lit(2.0)
    elif mode == "max":
        comb = F.greatest(a, b)
    elif mode == "min":
        comb = F.least(a, b)
    else:
        raise ValueError(f"unsupported rescore score_mode {mode!r}")
    new_q = (
        F.when(
            F.col("__orig_rank") > window, F.col("_score_q")
        )
        .when(
            F.coalesce(matched, F.lit(False)), F.floor(comb).cast("long")
        )
        .otherwise(F.floor(a).cast("long"))
    )
    return (
        ranked.withColumn("_score_q", new_q)
        .drop("__orig_rank")
        .orderBy(F.col("_score_q").desc(), *[F.col(c).asc() for c in keep])
    )


def run_search(
    df: DataFrame,
    body: dict,
    relations: dict | None = None,
    now_ms: int | None = None,
    frames: dict | None = None,
) -> dict[str, DataFrame]:
    """Execute a ``_search`` body; returns ``{agg_name: DataFrame}``.

    ``now_ms`` (r12) is the serving-edge clock stamp for now-anchored
    date math: when set, every ``range`` spec with a ``now...`` bound
    and no explicit ``now`` gains ``"now": now_ms`` before compilation
    (:func:`~.es_dsl.inject_now`) — the one sanctioned place the
    coordinator clock enters, keeping the compilers' explicit-now
    reproducibility contract intact (log the stamped body to replay).

    ``relations`` (r12) declares the parent/child join sides for
    ``has_child`` / ``has_parent`` QUERY kinds —
    ``{name: (other_frame, key_on_df, key_on_other)}``, the engine's
    stand-in for the ES join-field mapping; the body's ``query`` then
    routes through :func:`~..functions.es_dsl.apply_query` (join-marker
    semi-join compilation). Without it, those kinds raise with the
    workaround named.

    Sibling pipeline aggs (``avg_bucket``/``sum_bucket``/``min_bucket``/
    ``max_bucket``/``stats_bucket``/``percentiles_bucket``) resolve after
    their targets: ``buckets_path`` ``"hist>metric"`` aggregates that
    column of the sibling's bucket frame (result-sized — never a second
    pass over the data).

    ``runtime_mappings`` adds runtime fields before the query/aggs see the
    frame — ES computes these per-doc from a Painless script; here the
    ``script.source`` is a SQL expression (the engine's script dialect,
    same stance as ``scripted_metric``), compiled into the scan projection
    so Catalyst prunes/pushes around it."""
    if now_ms is not None:
        from .es_dsl import inject_now

        body = inject_now(body, now_ms)
    for fname, fspec in body.get("runtime_mappings", {}).items():
        df = df.withColumn(fname, F.expr(fspec["script"]["source"]))
    # pre-query frame — the `global` agg node escapes the filter but, as
    # in ES, still sees runtime-mapped fields (captured AFTER the loop)
    raw = df
    join_inner: list = []
    if "query" in body:
        from .es_dsl import apply_query, tree_has_kind

        if relations or frames or tree_has_kind(body["query"], ("knn",)):
            # join kinds, the knn QUERY kind, and terms-lookup clauses
            # (r13) are frame-level — they compile through apply_query
            # (marker joins / the coordinator-GET lookup rewrite)
            df = apply_query(
                df, body["query"], relations, _inner_sink=join_inner,
                frames=frames,
            )
        else:
            df = df.where(compile_query(body["query"]))
    aggs = body.get("aggs", body.get("aggregations", {}))
    out: dict[str, DataFrame] = {}
    if join_inner:
        # has_child/has_parent `inner_hits` → the reserved "_inner_hits"
        # frame (the collapse contract): the other side's rows matching
        # the inner query, restricted to join keys present in the HIT
        # set, top-`size` per key under the spec's sort, tagged
        # _inner_rank. ES nests these lists inside each returned hit;
        # the engine's flattened form carries every key (a serving edge
        # joins them onto its hits page).
        if len(join_inner) > 1:
            raise ValueError(
                "at most one has_child/has_parent inner_hits per body —"
                " fetch additional lists with a second _search"
            )
        out["_inner_hits"] = _join_inner_hits_frame(df, join_inner[0])
    # top-level `knn` section (ES 8.x vector search): exact top-k by
    # cosine (or dot_product) similarity of a dense_vector column against
    # the literal query_vector. The spec's `filter` is the ES pre-filter
    # (applied BEFORE the top-k, so all k hits satisfy it);
    # `num_candidates` is an HNSW recall knob — exact search is recall 1.0,
    # so it is accepted and ignored. ES's knn+query score-sum union is NOT
    # implemented: combining `knn` with a top-level `query`/`sort`/aggs
    # raises loudly. Plan: scan → filter → score projection →
    # TakeOrdered(k) (per-partition heaps — never a full sort), so at
    # 100 TB the cost is one pass over the filtered vectors.
    if "retriever" in body:
        if "query" in body or "sort" in body or "knn" in body or aggs:
            raise ValueError(
                "a retriever body must not also carry query/sort/knn/aggs"
            )
        _unsup = [
            k for k in ("from", "rescore", "search_after", "collapse",
                        "post_filter", "highlight", "script_fields")
            if k in body
        ]
        if _unsup:
            # fail-loud (r14): previously these silently did nothing
            raise ValueError(
                f"retriever body with {_unsup} is unsupported — the"
                " retriever tree defines the full ranking; page/shape"
                " with a second _search over its ids"
            )
        out["_hits"] = _run_retriever(df, body)
        return out
    if "knn" in body:
        if "query" in body or "sort" in body:
            raise ValueError(
                "knn with a top-level query/sort (ES score-sum union)"
                " is unsupported — use knn.filter for pre-filtering"
            )
        # fail-loud contract (r14): hit-shaping keys this branch does
        # not apply must raise, never return a silently wrong page
        _unsupported = [
            k for k in ("search_after", "collapse", "post_filter",
                        "highlight", "script_fields")
            if k in body
        ]
        if _unsupported:
            raise ValueError(
                f"knn section with {_unsupported} is unsupported — these"
                " hit-shaping keys apply to the sorted-hits route (size"
                " + sort); run a second _search over the knn ids for"
                " shaped pages"
            )
        spec = body["knn"]
        srcspec = body.get("_source")
        keep = (
            list(srcspec["includes"])
            if isinstance(srcspec, dict) and "includes" in srcspec
            else [c for c in df.columns if c != spec["field"]]
        )
        # `index` hint (engine extension): route through a stored IVF
        # index instead of the exact corpus scan — the 100 TB tier. The
        # probed cells are the only partitions read.
        if "index" in spec:
            scorer = lambda kp: _knn_indexed_scored(  # noqa: E731
                df.sparkSession, spec, kp
            )
        else:
            scorer = lambda kp: _knn_scored(df, spec, kp)  # noqa: E731
        # aggs beside knn run over the k RETRIEVED hits (the ES contract:
        # facets over the semantic result set, not the whole index)
        if aggs:
            topk = scorer(
                [c for c in df.columns if c != spec["field"]]
            ).limit(int(spec["k"]))
            for name, node in aggs.items():
                out[name] = _compile_agg(topk, name, node, relations)
        # k is the retrieval depth; the body's `size` pages it (ES
        # returns min(k, size) hits; size=0 yields an empty hits page);
        # `from` offsets within the k-deep frontier (r14: previously
        # silently ignored — the wrong page with no error)
        page = min(int(spec["k"]), int(body.get("size", 10)))
        offset = int(body.get("from", 0))
        if "rescore" in body:
            # ES rescores the top window_size of the FULL retrieved
            # window (k deep) before paging — rescoring the truncated
            # page would miss docs the rescore lifts onto it
            hits_page = _rescore_hits(
                scorer(keep).limit(int(spec["k"])), body["rescore"], keep
            )
        else:
            hits_page = scorer(keep).limit(int(spec["k"]))
        if offset:
            hits_page = hits_page.offset(offset)
        out["_hits"] = hits_page.limit(page)
        return out
    # hits retrieval — the ES response's `hits.hits` section, as the
    # reserved "_hits" frame. Opt-in: requires BOTH size > 0 AND an
    # explicit `sort` (engine queries carry no _score, so an unsorted
    # top-k would be nondeterministic; a bare `size` keeps the historical
    # aggs-only contract). `search_after` is the cursor form (strictly
    # past the tuple, lexicographic over the sort), `from` the offset
    # form; `_source.includes` prunes the projection. orderBy+limit is
    # TakeOrdered — per-partition heaps, never a full sort.
    if "slice" in body and not (body.get("size") and "sort" in body):
        raise ValueError(
            "slice applies to the hits page — the body needs size > 0 and"
            " an explicit sort (a silently unsliced response would break"
            " the export contract)"
        )
    if body.get("size") and "sort" in body:
        if "_hits" in aggs:
            raise ValueError('"_hits" is reserved for the hits frame')
        entries = body["sort"]
        if isinstance(entries, (str, dict)):
            entries = [entries]
        # `_geo_distance` sort (r12): ES sorts hits by great-circle
        # distance from an origin; relationally the geo point is the
        # lat/lon column pair (the geo-agg convention). The distance —
        # in `unit`, ES default m — is projected as the VISIBLE column
        # `_geo_distance`: the flattened equivalent of the per-hit sort
        # value ES returns, so `search_after` cursors over it exactly
        # like ES. One codegen expression (the shared IEEE-stable
        # haversine), no shuffle beyond the TakeOrdered heap.
        gd_seen = False
        script_sort_n = 0
        rewritten = []
        for ent in entries:
            if isinstance(ent, dict) and "_script" in ent:
                # `_script` sort (r13): ES sorts hits by a script — here
                # the engine's SQL expression dialect (the script_score /
                # runtime_mappings contract). The value is projected as
                # the VISIBLE column `_script_sort` (suffixed when
                # several), so `search_after` cursors over it like any
                # sort key. One codegen projection, no extra pass.
                spec = ent["_script"]
                from .es_dsl import _script_source

                col_name = (
                    "_script_sort" if script_sort_n == 0
                    else f"_script_sort_{script_sort_n}"
                )
                script_sort_n += 1
                df = df.withColumn(
                    col_name, F.expr(_script_source(spec))
                )
                rewritten.append(
                    {col_name: str(spec.get("order", "asc"))}
                )
                continue
            if isinstance(ent, dict) and "_geo_distance" in ent:
                if gd_seen:
                    raise ValueError(
                        "at most one _geo_distance sort entry per body"
                    )
                gd_seen = True
                from ..operators.geo import _haversine_m

                spec = ent["_geo_distance"]
                if "mode" in spec:
                    raise ValueError(
                        "_geo_distance sort mode (multi-valued points) is"
                        " unsupported — points are single lat/lon columns"
                    )
                origin = spec.get("origin")
                if origin is None:
                    raise ValueError("_geo_distance sort needs an origin")
                if isinstance(origin, str):
                    olat, olon = (float(x) for x in origin.split(","))
                elif isinstance(origin, (list, tuple)):  # GeoJSON [lon, lat]
                    olon, olat = float(origin[0]), float(origin[1])
                else:
                    olat, olon = float(origin["lat"]), float(origin["lon"])
                unit = spec.get("unit", "m")
                try:
                    div = {"m": 1.0, "km": 1000.0, "mi": 1609.344}[unit]
                except KeyError:
                    raise ValueError(
                        f"unsupported _geo_distance unit {unit!r}"
                    ) from None
                dist = F.expr(_haversine_m(
                    spec.get("lat_field", "lat"),
                    spec.get("lon_field", "lon"),
                    olat, olon,
                )) / F.lit(float(div))
                df = df.withColumn("_geo_distance", dist)
                rewritten.append(
                    {"_geo_distance": str(spec.get("order", "asc"))}
                )
            else:
                rewritten.append(ent)
        entries = rewritten
        # ES sorts docs MISSING the sort field LAST by default (the
        # `missing` parameter: "_last" default, "_first" to flip) —
        # Spark's bare .asc() is nulls-FIRST, so the NULL placement must
        # be explicit or the engine silently diverges from ES on any
        # nullable sort key (r11 parity fix).
        cols, descs, miss_first = [], [], []
        for ent in entries:
            if isinstance(ent, str):
                cols.append(ent)
                descs.append(False)
                miss_first.append(False)
            else:
                (c, o), = ent.items()
                cols.append(c)
                descs.append(
                    str(o["order"] if isinstance(o, dict) else o).lower()
                    == "desc"
                )
                m = o.get("missing", "_last") if isinstance(o, dict) else "_last"
                if m not in ("_last", "_first"):
                    raise ValueError(
                        "sort missing must be _last or _first (custom"
                        " missing values are not supported)"
                    )
                miss_first.append(m == "_first")

        def _sort_col(c: str, desc: bool, mfirst: bool):
            col = F.col(c)
            if desc:
                return col.desc_nulls_first() if mfirst else col.desc_nulls_last()
            return col.asc_nulls_first() if mfirst else col.asc_nulls_last()

        hits = df
        # `slice` (r11): sliced scan — the ES parallel-export contract
        # (each worker takes one disjoint slice; the union of slices is
        # the full result). ES hashes _id; the engine's documented
        # slicing function is modulo over a NUMERIC id column
        # (`slice.field`, default doc_id) — deterministic, portable to
        # the SQL twin, and what real export jobs slice on. The predicate
        # reaches the scan as a codegen filter, so at 100 TB each worker
        # reads and keeps only its share.
        sl = body.get("slice")
        if sl is not None:
            smax, sid = int(sl["max"]), int(sl["id"])
            if not (smax >= 2 and 0 <= sid < smax):
                raise ValueError(
                    "slice needs max >= 2 and 0 <= id < max (ES contract)"
                )
            sfield = sl.get("field", "doc_id")
            from pyspark.sql import types as T

            stype = dict(hits.dtypes).get(sfield)
            ftype = hits.schema[sfield].dataType if stype else None
            if not isinstance(
                ftype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                raise ValueError(
                    f"slice.field {sfield!r} must be an integral column"
                    f" (got {stype}) — the engine's documented slicing is"
                    " modulo over a numeric id"
                )
            hits = hits.where(
                F.pmod(F.col(sfield).cast("long"), F.lit(smax)) == sid
            )
        # `post_filter`: narrows the HITS ONLY — sibling aggs above keep
        # the full query context (the ES faceted-navigation contract:
        # facet counts stay global while the hit list reflects the
        # user's facet selection). Applied before collapse/pagination.
        if "post_filter" in body:
            hits = hits.where(compile_query(body["post_filter"]))
        # `highlight`: whole-field highlighting (number_of_fragments: 0) —
        # every token the query matched for the field, wrapped in
        # pre/post tags. Token-exact under the engine's analyzer-free
        # whitespace dialect (the same equality `match` filters on), via
        # a native split → transform → array_join — no regex, no UDF.
        hlcols: list[str] = []
        hl = body.get("highlight")
        if hl:
            if "query" not in body:
                raise ValueError("highlight requires a query clause")
            from .es_dsl import collect_highlight_terms

            pre = (hl.get("pre_tags") or ["<em>"])[0]
            post = (hl.get("post_tags") or ["</em>"])[0]
            for hf, fopts in hl["fields"].items():
                terms = collect_highlight_terms(body["query"], hf)
                if not terms:
                    raise ValueError(
                        f"query has no highlightable tokens for {hf!r}"
                    )
                nfrag = int((fopts or {}).get("number_of_fragments", 0))
                if nfrag < 0:
                    raise ValueError("number_of_fragments must be >= 0")
                if nfrag > 0:
                    # fragment mode (r10 — formerly a loud raise): the
                    # engine's analyzer-free dialect counts fragment_size
                    # in TOKENS (ES counts chars under its analyzers —
                    # no offsets exist here). Contract: the first
                    # `number_of_fragments` matched positions in document
                    # order each yield one fragment — the ±half-window
                    # around the match, matched tokens wrapped — joined
                    # with ' … '. Overlapping windows are NOT merged
                    # (each fragment is independent); deterministic and
                    # replayed exactly by the DuckDB twin.
                    fsize = int((fopts or {}).get("fragment_size", 7))
                    if fsize < 1:
                        raise ValueError("fragment_size must be >= 1")
                    lo_off = (fsize - 1) // 2
                    hi_off = fsize // 2
                    # literals via _sql_lit (r14): a term or tag with an
                    # apostrophe would break the generated expression
                    from .es_dsl import _sql_lit as _lit

                    tarr = (
                        "array(" + ", ".join(_lit(t) for t in terms) + ")"
                    )
                    wrap = (
                        f"CASE WHEN array_contains({tarr}, __t)"
                        f" THEN concat({_lit(pre)}, __t, {_lit(post)})"
                        f" ELSE __t END"
                    )
                    frag_expr = (
                        f"array_join(transform("
                        f"  slice(filter(sequence(0, size(__toks) - 1),"
                        f"        __i -> array_contains({tarr}, __toks[__i])),"
                        f"        1, {nfrag}),"
                        f"  __p -> array_join(transform("
                        f"    slice(__toks, greatest(0, __p - {lo_off}) + 1,"
                        f"      least(size(__toks) - 1, __p + {hi_off})"
                        f"      - greatest(0, __p - {lo_off}) + 1),"
                        f"    __t -> {wrap}), ' ')"
                        f"), ' … ')"
                    )
                    hits = (
                        hits.withColumn(
                            "__toks", F.split(F.col(hf), " ", -1)
                        )
                        .withColumn(f"{hf}_highlight", F.expr(frag_expr))
                        .drop("__toks")
                    )
                else:
                    wrapped = F.transform(
                        F.split(F.col(hf), " ", -1),
                        lambda t: F.when(
                            t.isin(terms),
                            F.concat(F.lit(pre), t, F.lit(post)),
                        ).otherwise(t),
                    )
                    hits = hits.withColumn(
                        f"{hf}_highlight", F.array_join(wrapped, " ")
                    )
                hlcols.append(f"{hf}_highlight")
        # `script_fields`: per-hit computed fields — the script.source is
        # a SQL expression (the engine's script dialect, same stance as
        # runtime_mappings), projected into the scan so Catalyst
        # prunes/pushes around it.
        sfcols: list[str] = []
        for sfname, sfspec in body.get("script_fields", {}).items():
            if sfname in hits.columns:
                raise ValueError(
                    f"script_field {sfname!r} collides with a column"
                )
            hits = hits.withColumn(
                sfname, F.expr(sfspec["script"]["source"])
            )
            sfcols.append(sfname)
        srcspec = body.get("_source")
        coll = body.get("collapse")
        # projection: `_source.includes` (object form) and/or the ES 8
        # `fields` list form — union, request order, de-duplicated.
        # Both accept ES wildcard patterns ("l_*"): globs expand against
        # the frame's columns in column order (r11); a pattern matching
        # nothing raises (a silent empty expansion would drop data).
        def _expand(pat: str) -> list[str]:
            if "*" not in pat and "?" not in pat:
                return [pat]
            import fnmatch

            got = [c for c in hits.columns if fnmatch.fnmatchcase(c, pat)]
            if not got:
                raise ValueError(
                    f"field pattern {pat!r} matches no columns"
                )
            return got

        keep = []
        if isinstance(srcspec, dict) and "includes" in srcspec:
            for p in srcspec["includes"]:
                keep += _expand(p)
        if "fields" in body:
            for f in body["fields"]:
                keep += _expand(f["field"] if isinstance(f, dict) else f)
        if keep:
            extra = [coll["field"]] if coll else []
            hits = hits.select(
                *dict.fromkeys([*keep, *sfcols, *hlcols, *cols, *extra])
            )
        if coll:
            # `collapse`: one hit per distinct collapse-field value — the
            # best one under the body's own sort (ES field collapsing).
            # Collapsing happens BEFORE search_after/from pagination, same
            # as ES. Window rank per collapse key → keep rank 1; the
            # partial sort runs per key group, never globally.
            from pyspark.sql.window import Window

            worder = [
                _sort_col(c, d, m)
                for c, d, m in zip(cols, descs, miss_first)
            ]
            # inner_hits (the per-group runner-up lists) → the reserved
            # "_inner_hits" frame: top-`size` rows PER collapse group
            # under the inner_hits' own sort (default: the body's sort),
            # tagged with _inner_rank. ES nests these lists inside each
            # returned hit; the engine's flattened form carries every
            # group (a serving edge joins them onto its hits page) — the
            # same one-window-pass shape as the collapse itself.
            ih = coll.get("inner_hits")
            if ih is not None:
                ient = ih.get("sort", [])
                if isinstance(ient, (str, dict)):
                    ient = [ient]
                icols, idescs = [], []
                for ent in ient:
                    if isinstance(ent, str):
                        icols.append(ent)
                        idescs.append(False)
                    else:
                        (c, o), = ent.items()
                        icols.append(c)
                        idescs.append(
                            str(o if isinstance(o, str) else o.get("order", "asc"))
                            .lower() == "desc"
                        )
                missing = [c for c in icols if c not in hits.columns]
                if missing:
                    raise ValueError(
                        f"collapse inner_hits sort fields {missing} are not"
                        " in the hits projection — include them in"
                        " _source/fields"
                    )
                iworder = [
                    _sort_col(c, d, False)
                    for c, d in zip(icols, idescs)
                ] or worder
                iw = Window.partitionBy(coll["field"]).orderBy(*iworder)
                if "_inner_hits" in out:
                    # a join clause's inner_hits already claimed the
                    # reserved frame — overwriting would silently drop
                    # it (r14 review finding)
                    raise ValueError(
                        "collapse inner_hits collides with the join"
                        " clause's inner_hits — one inner_hits frame per"
                        " _search; run the collapse page separately"
                    )
                out["_inner_hits"] = (
                    hits.withColumn(
                        "_inner_rank", F.row_number().over(iw)
                    )
                    .where(F.col("_inner_rank") <= int(ih.get("size", 3)))
                    .orderBy(coll["field"], "_inner_rank")
                )
            w = Window.partitionBy(coll["field"]).orderBy(*worder)
            hits = (
                hits.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
            # the collapse key was force-injected into the projection for
            # the window only — drop it again unless the request asked
            # for it (in _source/fields or as a sort key)
            if keep and coll["field"] not in (*keep, *cols):
                hits = hits.drop(coll["field"])
        after = body.get("search_after")
        if after is not None:
            if len(after) != len(cols):
                raise ValueError(
                    "search_after must supply one value per sort entry"
                )
            # strictly past the cursor tuple in the sort's direction.
            # NULL sort keys never satisfy the strict comparison, so rows
            # missing a sort field are unreachable through a cursor —
            # same as ES's guidance to page on a total-order key (use a
            # tie-break id column, which the fixtures do).
            pred = F.lit(False)
            for i in range(len(cols) - 1, -1, -1):
                c, v = F.col(cols[i]), F.lit(after[i])
                step = (c < v) if descs[i] else (c > v)
                pred = step | ((c == v) & pred)
            hits = hits.where(pred)
        order = [
            _sort_col(c, d, m)
            for c, d, m in zip(cols, descs, miss_first)
        ]
        frm = int(body.get("from", 0))
        out["_hits"] = (
            hits.orderBy(*order).limit(frm + int(body["size"])).offset(frm)
        )
    pipelines = {}
    for name, node in aggs.items():
        kinds = [k for k in node if k not in ("aggs", "aggregations", "meta")]
        if not kinds:
            # a typeless node (e.g. only "aggs" — the type key forgotten)
            # used to die as IndexError with no agg name (r14)
            raise ValueError(
                f"agg {name!r} has no aggregation type (keys:"
                f" {sorted(node)})"
            )
        if len(kinds) == 1 and (
            kinds[0] in _SIBLING_PIPELINES or kinds[0] in _SIBLING_MULTI
        ):
            pipelines[name] = (kinds[0], node[kinds[0]])
            continue
        if kinds[0] in ("significant_terms", "significant_text") and (
            len(kinds) == 1
            and "foreground" not in node[kinds[0]]
            and "query" in body
        ):
            # ES-native foreground inference (r11, SCOPE.md §D row closed):
            # at top level ES takes foreground = the query's hit set and
            # background = the WHOLE index — so compile the body's query
            # to the foreground predicate and run the agg over the RAW
            # (pre-query) frame. With no `query` either, the explicit
            # `foreground` extension below stays required (fg == bg is
            # meaningless — every score is 1).
            node = {
                **node,
                kinds[0]: {
                    **node[kinds[0]],
                    "foreground": compile_query_sql_expr(body["query"]),
                },
            }
            out[name] = _compile_agg(raw, name, node, relations)
            continue
        if kinds == ["global"]:
            # ES `global`: the sub-tree sees the UNFILTERED index, not the
            # query context (single child frame, like the filter node)
            gsub = node.get("aggs", node.get("aggregations", {}))
            if not gsub:
                out[name] = raw.agg(
                    F.count(F.lit(1)).cast("long").alias("doc_count")
                )
                continue
            if len(gsub) != 1:
                raise ValueError(
                    f"global agg {name!r} supports exactly one sub-agg frame"
                )
            (gname, gnode), = gsub.items()
            out[name] = _compile_agg(raw, gname, gnode, relations)
            continue
        out[name] = _compile_agg(df, name, node, relations)
    for name, (kind, spec) in pipelines.items():
        path = spec["buckets_path"]
        target, _, col = path.partition(">")
        if target not in out:
            raise ValueError(f"buckets_path {path!r} references unknown agg")
        col = col or "value"
        col = {"_count": "doc_count"}.get(col, col)
        if kind == "stats_bucket":
            out[name] = out[target].agg(
                F.count(col).cast("long").alias("count"),
                F.min(col).alias("min"),
                F.max(col).alias("max"),
                F.avg(col).alias("avg"),
                F.sum(col).alias("sum"),
            )
        elif kind == "change_point":
            # ES 8.x change_point sibling: most-likely step-change split of
            # the target's bucket series (operators.pipeline.change_point —
            # result-sized window math, exact integer discipline)
            from ..operators.pipeline import change_point as _change_point

            out[name] = _change_point(
                out[target].select("key", F.col(col).alias("value")),
                quantize=int(spec.get("quantize", 4)),
            )
        elif kind == "bucket_correlation":
            # ES bucket_correlation (count_correlation function): Pearson
            # correlation between the target's bucket metric series (key
            # order) and the caller-provided indicator expectations. A
            # length mismatch raises AT EXECUTION (ES rejects it too)
            # via raise_error in the final single-row projection.
            from pyspark.sql import Window as _W

            exps = [
                float(x)
                for x in spec["function"]["count_correlation"]["indicator"][
                    "expectations"
                ]
            ]
            src = out[target].select(
                (F.row_number().over(_W.orderBy("key")) - 1).alias("__i"),
                F.col(col).cast("double").alias("__v"),
                F.lit(1).alias("__isb"),  # bucket-side marker: survives the
                # full_outer join even when __v is NULL, so BOTH mismatch
                # directions (more buckets / fewer buckets) are counted
            )
            lit = literal_frame(
                src.sparkSession, list(enumerate(exps)), "__i int, __e double"
            )
            # Pearson by hand (NULLIF-guarded) — ANSI mode makes F.corr
            # throw DIVIDE_BY_ZERO on constant series before the length
            # check could fire; here a degenerate series yields NULL
            both = F.col("__v").isNotNull() & F.col("__e").isNotNull()
            out[name] = (
                src.join(F.broadcast(lit), "__i", "full_outer")
                .agg(
                    F.count("__isb").alias("__n"),
                    F.count(F.when(both, 1)).cast("double").alias("__np"),
                    F.sum(F.when(both, F.col("__v"))).alias("__sv"),
                    F.sum(F.when(both, F.col("__e"))).alias("__se"),
                    F.sum(F.when(both, F.col("__v") * F.col("__v"))).alias("__svv"),
                    F.sum(F.when(both, F.col("__e") * F.col("__e"))).alias("__see"),
                    F.sum(F.when(both, F.col("__v") * F.col("__e"))).alias("__sve"),
                )
                .select(
                    F.expr(
                        f"CASE WHEN __n = {len(exps)} THEN "
                        "(__np * __sve - __sv * __se) / NULLIF(SQRT("
                        "(__np * __svv - __sv * __sv) * "
                        "(__np * __see - __se * __se)), 0.0) ELSE "
                        "raise_error('bucket_correlation: indicator "
                        "expectations length does not match the bucket "
                        "count') END"
                    ).alias(name)
                )
            )
        elif kind == "bucket_count_ks_test":
            # ES ML bucket_count_ks_test, the engine's two-sample form:
            # exact KS D between two groups' bucket-value distributions
            # (operators.pipeline.ks_test — integer ECDF cross-
            # multiplication, result-sized). `group_by` names the grouped
            # target's key column; `a`/`b` pick the two series.
            from ..operators.pipeline import ks_test as _ks_test

            gcol = spec["group_by"]
            tcols = out[target].columns
            if gcol not in tcols:
                raise ValueError(
                    f"bucket_count_ks_test group_by {gcol!r} is not a "
                    f"column of {target!r} ({tcols})"
                )
            out[name] = _ks_test(
                out[target].select(gcol, F.col(col).alias("value")),
                gcol, spec["a"], spec["b"],
                quantize=int(spec.get("quantize", 4)),
            )
        elif kind == "percentiles_bucket":
            pcts = [float(p) for p in spec.get("percents", (1, 5, 25, 50, 75, 95, 99))]
            arr = ", ".join(repr(p / 100.0) for p in pcts)
            wide = out[target].agg(
                F.expr(f"percentile({col}, array({arr}))").alias("__pv")
            )
            entries = ", ".join(
                f"named_struct('pct', {p!r}D, 'v', __pv[{i}])"
                for i, p in enumerate(pcts)
            )
            out[name] = wide.select(
                F.explode(F.expr(f"array({entries})")).alias("__e")
            ).select(
                F.col("__e.pct").alias("pct"), F.col("__e.v").alias("value")
            ).orderBy("pct")
        else:
            out[name] = out[target].agg(_SIBLING_PIPELINES[kind](col).alias(name))
    return out


MAX_RENDER_BUCKETS = 65_536  # ES search.max_buckets default


def render_response(
    results: dict[str, DataFrame],
    keyed: bool = False,
    sub_names: dict[str, str] | None = None,
    max_buckets: int = MAX_RENDER_BUCKETS,
) -> dict:
    """Shape :func:`run_search` results as the ES response's
    ``aggregations`` object (the serving edge — collects result-sized
    frames only, never raw data):

    - bucket frames (any frame with a ``key`` column) → ``{"buckets":
      [{"key": ..., "key_as_string"?: ..., "doc_count": ..., <metric
      sub-aggs as {"value": v}>}]}``, or the ``keyed`` object form;
    - grouped bucket frames (extra leading group columns, the
      terms→histogram nesting) → nested ``{"buckets": [{"key": group,
      "doc_count": Σ, "<child name>": {"buckets": [...]}}]}`` where the
      child name comes from ``sub_names[name]`` (``run_search`` records it
      on the frame, so plain ``render_response(run_search(df, body))``
      resolves it automatically; explicit ``sub_names`` overrides);
    - single-row metric frames → ``{"value": v}``.

    ``max_buckets`` bounds the driver-side collect — a bucket frame larger
    than the cap raises instead of materializing (the reference breaks the
    same way: ``consumeBucketsAndMaybeBreak``,
    InternalProportionalSumHistogram.java:383-387 counts buckets against
    ES's ``search.max_buckets`` circuit breaker at reduce time). ``take(cap
    + 1)`` fetches only the first partitions that fill the cap, so the
    failure is cheap as well as loud.
    """
    out = {}
    hits_obj = None
    for name, df in results.items():
        cols = [f.name for f in df.schema]
        if name == "_hits":
            # the hits frame renders as the TOP-LEVEL `hits` section of
            # the ES response (not inside `aggregations`): row dicts in
            # result order under the same bucket cap
            rows = df.take(max_buckets + 1)
            if len(rows) > max_buckets:
                raise ValueError(
                    f"_hits produced more than max_buckets={max_buckets}"
                    " rows at the serving edge"
                )
            # the frame is already page-limited, so the page length is
            # only a LOWER BOUND on matching docs — "gte", never "eq"
            # (ES reports gte whenever total tracking is cut off)
            hits_obj = {
                "total": {"value": len(rows), "relation": "gte"},
                "hits": [{"_source": r.asDict()} for r in rows],
            }
            continue
        if "key" not in cols:
            rows = df.take(max_buckets + 1)
            if len(rows) > max_buckets:
                raise ValueError(
                    f"agg {name!r} produced more than max_buckets="
                    f"{max_buckets} rows at the serving edge"
                )
            if cols[0] == "pct":
                # percentile family -> ES {"values": {"50.0": v, ...}}
                # (checked before the single-row path: one requested
                # percentile still renders as the values object)
                out[name] = {
                    "values": {str(r[0]): r[-1] for r in rows}
                }
            elif len(rows) == 1:
                # single metric -> ES {"value": v}; multi-column single-row
                # frames (stats_bucket & co.) -> the ES stats object shape
                out[name] = (
                    {"value": rows[0][0]} if len(cols) == 1
                    else rows[0].asDict()
                )
            else:
                # generic multi-row metric frame (grouped percentiles,
                # percentile_ranks, …) -> row-dict list
                out[name] = {"values": [r.asDict() for r in rows]}
            continue
        group_cols = [c for c in cols if c not in (
            "key", "key_ts", "key_as_string", "doc_count", "value"
        ) and not c.startswith("__")]
        metric_cols = [c for c in group_cols if c not in cols[: cols.index("key")]]
        group_cols = [c for c in group_cols if c in cols[: cols.index("key")]]
        rows = df.take(max_buckets + 1)
        if len(rows) > max_buckets:
            raise ValueError(
                f"agg {name!r} produced more than max_buckets={max_buckets} "
                "buckets at the serving edge — raise max_buckets explicitly "
                "or add a size/selector to the body (reference: "
                "search.max_buckets circuit breaker)"
            )

        def bucket(r):
            b = {"key": r["key"]}
            if "key_as_string" in cols:
                b["key_as_string"] = r["key_as_string"]
            b["doc_count"] = r["doc_count"]
            if "value" in cols:
                b["value"] = r["value"]
            for m in metric_cols:
                b[m] = {"value": r[m]}
            return b

        if group_cols:
            child = (sub_names or {}).get(name) or getattr(
                df, "_es_child_name", "buckets"
            )
            nested: dict = {}
            for r in rows:
                gkey = tuple(r[c] for c in group_cols)
                nested.setdefault(gkey, []).append(bucket(r))
            out[name] = {
                "buckets": [
                    {
                        "key": g[0] if len(g) == 1 else list(g),
                        "doc_count": sum(b["doc_count"] for b in bs),
                        child: {"buckets": bs},
                    }
                    for g, bs in nested.items()
                ]
            }
        elif keyed:
            out[name] = {
                "buckets": {
                    str(b.get("key_as_string", b["key"])): b for b in map(bucket, rows)
                }
            }
        else:
            out[name] = {"buckets": [bucket(r) for r in rows]}
    resp = {"aggregations": out}
    if hits_obj is not None:
        resp["hits"] = hits_obj
    return resp


def _compile_agg(
    df: DataFrame, name: str, node: dict, relations: dict | None = None
) -> DataFrame:
    sub = node.get("aggs", node.get("aggregations", {}))
    kinds = [k for k in node if k not in ("aggs", "aggregations", "meta")]
    if len(kinds) != 1:
        raise ValueError(f"agg {name!r} must have exactly one type, got {kinds}")
    kind = kinds[0]
    spec = node[kind]

    if kind == "proportional_sum":
        metrics, pipes = _split_sub(sub)
        return _apply_pipelines(
            _proportional_sum(df, spec, group_by=(), sub=metrics), pipes
        )
    if kind == "date_histogram":
        metrics, pipes = _split_sub(sub)
        # cumulative_cardinality can't run over the bucket frame (running
        # DISTINCT needs the raw ids) — intercept it here where `df` is in
        # scope and join the operator's first-seen aggregation onto the
        # bucket list (operators.pipeline.cumulative_cardinality: one
        # shuffle by id, O(buckets) state — never per-bucket distinct sets)
        cumcards = {
            k: v for k, v in pipes.items() if "cumulative_cardinality" in v
        }
        pipes = {k: v for k, v in pipes.items() if k not in cumcards}
        # bucket sub-agg: a single terms child flattens to a composite
        # grouping — one row per (histogram bucket, term), with the terms
        # node's OWN metric leaves riding the same aggregation pass and
        # its `size` ranking applied per bucket (doc_count desc, key asc)
        tsub = _extract_terms_sub(metrics)
        if tsub is not None:
            tspec, tchildren = tsub
            if pipes or cumcards:
                raise ValueError(
                    "pipeline sub-aggs beside a terms child of a"
                    " date_histogram are unsupported (the bucket frame is"
                    " flattened per term)"
                )
            mdc = int(spec.get("min_doc_count", 1))
            tfield = tspec["field"]
            # the grouped frame never fills per term (that would invent a
            # per-term grid ES does not have); extended_bounds with
            # min_doc_count >= 1 is the ES no-op, dropped here too.
            # hard_bounds CLIPS data buckets, which is bucket-level and
            # term-independent, so it stays on the grouped pass.
            tflat_spec = {
                k: v for k, v in spec.items()
                if k not in ("min_doc_count", "extended_bounds")
            }
            # ONE corpus aggregation (the numeric-branch discipline): the
            # NULL-term group stays in the frame so bucket totals and the
            # fill-grid bounds derive from it without a second data pass
            flat_all = _date_histogram(
                df, tflat_spec, sub=tchildren, group_by=(tfield,),
            )
            if mdc != 1:
                # pin the result-sized bucket frame on the multi-reference
                # fill/threshold paths (see the numeric branch)
                flat_all = flat_all.localCheckpoint(eager=True)
            flat = flat_all.where(F.col(tfield).isNotNull())
            ranked = _rank_terms_per_bucket(
                flat, tfield, int(tspec.get("size", 10))
            )
            if mdc == 0:
                # zero-fill under a terms child (r10, the numeric-histogram
                # contract): the grid comes from the UNGROUPED zero-filled
                # date_histogram (data span + extended_bounds, calendar or
                # fixed); grid keys with no term rows render ONCE with a
                # NULL term, doc_count 0, and the child metrics' ES
                # empty-reduce values.
                zero_kinds = ("sum", "value_count", "cardinality")
                fill_zero = {
                    sname
                    for sname, snode in (tchildren or {}).items()
                    if any(k in snode for k in zero_kinds)
                }
                # the calendar/fixed fill spine machinery runs over a
                # 2-instant bounds frame (the frame's own min/max keys,
                # already rounded) — result-sized, never a second pass
                tiny = (
                    flat_all.agg(
                        F.min("key").alias("__lo"), F.max("key").alias("__hi")
                    )
                    .where(F.col("__lo").isNotNull())
                    .select(
                        F.explode(F.array("__lo", "__hi")).alias(spec["field"])
                    )
                )
                grid = _date_histogram(tiny, spec, sub=None)
                dtypes = {f.name: f.dataType for f in ranked.schema.fields}
                metric_names = list(tchildren or {})
                grid_cols = [c for c in grid.columns if c != "doc_count"]
                missing = grid.join(
                    ranked.select("key").distinct(), "key", "left_anti"
                ).select(
                    F.lit(None).cast(dtypes[tfield]).alias(tfield),
                    *grid_cols,
                    F.lit(0).cast(dtypes["doc_count"]).alias("doc_count"),
                    *[
                        (
                            F.lit(0).cast(dtypes[m]) if m in fill_zero
                            else F.lit(None).cast(dtypes[m])
                        ).alias(m)
                        for m in metric_names
                    ],
                )
                ranked = (
                    ranked.unionByName(missing.select(ranked.columns))
                    .orderBy(
                        "key", F.col("doc_count").desc(), F.col(tfield).asc()
                    )
                )
            if mdc > 1:
                # r10: bucket-level threshold rolls up from the
                # (bucket, term) frame incl. the NULL-term group (ES
                # counts those docs toward the bucket) — result-sized
                keep = (
                    flat_all.groupBy("key")
                    .agg(F.sum("doc_count").alias("__n"))
                    .where(F.col("__n") >= mdc)
                    .select("key")
                )
                ranked = (
                    ranked.join(keep, "key", "left_semi")
                    .orderBy(
                        "key", F.col("doc_count").desc(), F.col(tfield).asc()
                    )
                )
            return ranked
        buckets = _date_histogram(df, spec, sub=metrics)
        if cumcards:
            from ..operators.pipeline import cumulative_cardinality
            from ..params import parse_offset as _parse_tv

            # r10 (SCOPE.md §E): any first-seen-orderable grid works —
            # fixed (with offset) via the shifted modular floor, calendar
            # (r11: with offset too) via the shifted date_trunc floor
            # trunc(t−off)+off — the SAME key params.round_key_ms gives
            # the bucket grid, so the join aligns. The ES alias is
            # normalized through params.parse_interval ('1w'→'week');
            # date_trunc would silently NULL on the raw alias. r11
            # (second pass): time_zone joins too — the first-seen key is
            # the zone-aware floor built from the SAME floor_calendar /
            # local_ts_to_utc_ms helpers the bucket grid uses.
            cc_kw: dict = {}
            if "calendar_interval" in spec:
                from ..params import parse_interval as _parse_iv

                if spec.get("time_zone"):
                    from zoneinfo import ZoneInfo

                    try:
                        ZoneInfo(spec["time_zone"])
                    except Exception:
                        raise ValueError(
                            f"unknown time zone {spec['time_zone']!r}"
                        ) from None
                    cc_kw["tz"] = spec["time_zone"]
                cc_kw["calendar_unit"] = _parse_iv(
                    None, spec["calendar_interval"]
                )[2]
                if spec.get("offset"):
                    cc_kw["offset_ms"] = _parse_tv(spec["offset"])
            elif "fixed_interval" in spec:
                cc_kw["step_ms"] = _parse_tv(spec["fixed_interval"])
                if spec.get("time_zone"):
                    # r12: the date_histogram grid itself now supports
                    # fixed+tz (local-space floor); the first-seen fold
                    # uses the SAME utc(floor_fixed(local)) key, so the
                    # bucket join stays aligned
                    from zoneinfo import ZoneInfo

                    try:
                        ZoneInfo(spec["time_zone"])
                    except Exception:
                        raise ValueError(
                            f"unknown time zone {spec['time_zone']!r}"
                        ) from None
                    cc_kw["tz"] = spec["time_zone"]
                if spec.get("offset"):
                    cc_kw["offset_ms"] = _parse_tv(spec["offset"])
            else:
                raise ValueError(
                    "cumulative_cardinality needs a fixed_interval or"
                    " calendar_interval date_histogram"
                )
            for sname, snode in cumcards.items():
                cspec = snode["cumulative_cardinality"]
                tgt = cspec["buckets_path"]
                tnode = metrics.get(tgt, {})
                if "cardinality" not in tnode:
                    raise ValueError(
                        f"cumulative_cardinality buckets_path {tgt!r} must "
                        "name a cardinality metric sibling under this "
                        "date_histogram"
                    )
                cc = cumulative_cardinality(
                    df.where(F.col(spec["field"]).isNotNull()),
                    spec["field"],
                    tnode["cardinality"]["field"],
                    **cc_kw,
                )
                buckets = buckets.join(
                    cc.select("key", F.col("cum_cardinality").alias(sname)),
                    "key",
                    "left",
                )
            # empty-filled buckets carry the previous running value (the
            # ES contract): forward-fill over the key order
            from pyspark.sql import Window as _W

            wf = _W.orderBy("key").rowsBetween(_W.unboundedPreceding, 0)
            for sname in cumcards:
                buckets = buckets.withColumn(
                    sname, F.last(sname, ignorenulls=True).over(wf)
                )
        return _apply_pipelines(buckets, pipes)
    if kind == "terms":
        return _terms(df, spec, sub)
    if kind == "filter":
        # ES `filter` single-bucket agg: narrow the context for the
        # sub-tree. With sub-aggs, recurse on the filtered frame (single
        # child: its frame, prefixed semantics identical to ES's nesting);
        # without, emit the one-bucket (doc_count) frame.
        filtered = df.where(compile_query(spec))
        if not sub:
            return filtered.agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        if len(sub) != 1:
            raise ValueError(
                f"filter agg {name!r} supports exactly one sub-agg frame "
                "(register siblings as separate top-level aggs)"
            )
        (sname, snode), = sub.items()
        child = _compile_agg(filtered, sname, snode, relations)
        child._es_child_name = sname
        return child
    if kind == "range":
        from ..operators.es_aggs import range_agg

        ranges = [(r.get("from"), r.get("to")) for r in spec["ranges"]]
        return range_agg(
            df, spec["field"], ranges, extra_aggs=_metric_extra_aggs(sub, df) or None
        )
    if kind == "histogram":
        from ..operators.es_aggs import histogram_agg, histogram_agg_filled

        if "missing" in spec:
            # ES `missing`: docs lacking the field bucket AT this value —
            # dropping them (the engine's default null behavior) would be
            # a silent divergence whenever the request sets it. Per-agg
            # scoped: metric sub-aggs over the same field read the stash.
            df = _stash_grouping_missing(df, spec["field"], spec["missing"])
        metrics, pipes = _split_sub(sub)
        # single terms child: same flattening contract as date_histogram
        tsub = _extract_terms_sub(metrics)
        if tsub is not None:
            tspec, tchildren = tsub
            if pipes:
                raise ValueError(
                    "pipeline sub-aggs beside a terms child of a histogram"
                    " are unsupported (the bucket frame is flattened per"
                    " term)"
                )
            mdc = int(spec.get("min_doc_count", 1))
            tfield = tspec["field"]
            # ONE corpus aggregation (r10 second pass over this path):
            # the (bucket, term) frame keeps the NULL-term group — those
            # docs count toward the BUCKET (ES) while the terms child
            # drops them — so bucket totals, fill-grid bounds, and the
            # per-term rows all derive from this single frame; Catalyst's
            # exchange reuse shares the aggregation across the consumers.
            flat_all = histogram_agg(
                df, spec["field"], spec["interval"],
                offset=spec.get("offset", 0.0),
                extra_aggs=_metric_extra_aggs(tchildren, df) or None,
                group_cols=(tfield,),
            )
            if mdc != 1:
                # the fill/threshold paths reference this frame 3-4 times
                # and Catalyst duplicates the whole subtree per reference
                # (column pruning defeats exchange reuse) — PIN the
                # result-sized bucket frame so the corpus aggregates ONCE
                # (the es_phrase_suggest tiny-frame discipline)
                flat_all = flat_all.localCheckpoint(eager=True)
            flat = flat_all.where(F.col(tfield).isNotNull())
            ranked = _rank_terms_per_bucket(
                flat, tfield, int(tspec.get("size", 10))
            )
            if mdc == 0:
                # zero-fill under a terms child (r10 — formerly a loud
                # raise): the bucket GRID comes from the UNGROUPED filled
                # histogram (all field-bearing docs + extended_bounds);
                # grid keys absent from the flattened frame appear ONCE
                # with a NULL term — the flattened rendering of ES's
                # empty-bucket-with-empty-terms-array — and the terms
                # child's metrics take their empty-reduce values (0 for
                # sum/value_count/cardinality, NULL for min/max/avg).
                eb = spec.get("extended_bounds")
                zero_kinds = ("sum", "value_count", "cardinality")
                fill_zero = {
                    sname
                    for sname, snode in (tchildren or {}).items()
                    if any(k in snode for k in zero_kinds)
                }
                # grid from the BUCKET frame's own keys (keys are already
                # floored, so re-histogramming them is the identity) —
                # the fill spine machinery runs over a result-sized input
                grid = histogram_agg_filled(
                    flat_all.select(F.col("key").alias(spec["field"])),
                    spec["field"], spec["interval"],
                    offset=spec.get("offset", 0.0),
                    extended_bounds=(
                        (float(eb["min"]), float(eb["max"])) if eb else None
                    ),
                ).select("key")
                dtypes = {f.name: f.dataType for f in ranked.schema.fields}
                fill_cols = [
                    F.lit(None).cast(dtypes[tfield]).alias(tfield),
                    F.col("key"),
                    F.lit(0).cast(dtypes["doc_count"]).alias("doc_count"),
                ] + [
                    (
                        F.lit(0).cast(dtypes[m]) if m in fill_zero
                        else F.lit(None).cast(dtypes[m])
                    ).alias(m)
                    for m in (tchildren or {})
                ]
                missing = grid.join(
                    ranked.select("key").distinct(), "key", "left_anti"
                ).select(fill_cols)
                ranked = (
                    ranked.unionByName(missing)
                    .orderBy(
                        "key", F.col("doc_count").desc(), F.col(tfield).asc()
                    )
                )
            # extended_bounds with min_doc_count >= 1 is an ES no-op (the
            # widened empty buckets are filtered right back out) — accept
            # it like ES does; mdc == 1 is the plain flattened frame
            if mdc > 1:
                # r10 (formerly a loud raise): the bucket-level threshold
                # rolls up from the (bucket, term) frame — the NULL-term
                # group keeps ES's count-all-docs semantics — and the
                # surviving keys semi-join back; result-sized throughout
                keep = (
                    flat_all.groupBy("key")
                    .agg(F.sum("doc_count").alias("__n"))
                    .where(F.col("__n") >= mdc)
                    .select("key")
                )
                ranked = (
                    ranked.join(keep, "key", "left_semi")
                    .orderBy(
                        "key", F.col("doc_count").desc(), F.col(tfield).asc()
                    )
                )
            return ranked
        if int(spec.get("min_doc_count", 1)) == 0:
            # zero-fill contract: the grid between data min/max (widened
            # by extended_bounds) appears complete, empties zero-filled.
            # Metric sub-aggs ride the same pass (wired r9 — formerly a
            # loud raise): a filled bucket carries the metric's ES
            # empty-reduce value — 0 for sum/value_count/cardinality,
            # NULL for min/max/avg (es-8.18.2
            # InternalProportionalSumHistogram.java:480-521's reduce of
            # an empty proto-bucket renders the same way).
            eb = spec.get("extended_bounds")
            zero_kinds = ("sum", "value_count", "cardinality")
            fill_zero = {
                sname
                for sname, snode in (metrics or {}).items()
                if any(k in snode for k in zero_kinds)
            }
            return _apply_pipelines(
                histogram_agg_filled(
                    df, spec["field"], spec["interval"],
                    offset=spec.get("offset", 0.0),
                    extended_bounds=(
                        (float(eb["min"]), float(eb["max"])) if eb else None
                    ),
                    extra_aggs=_metric_extra_aggs(metrics, df) or None,
                    extra_fill_zero=fill_zero,
                ),
                pipes,
            )
        # extended_bounds with min_doc_count >= 1 is accepted and ignored
        # — ES parity: the widened buckets are empty by construction, so
        # the min_doc_count filter removes them again (the parameter only
        # has visible effect when empty buckets render)
        return _apply_pipelines(
            histogram_agg(
                df, spec["field"], spec["interval"],
                offset=spec.get("offset", 0.0),
                min_doc_count=spec.get("min_doc_count", 1),
                extra_aggs=_metric_extra_aggs(metrics, df) or None,
            ),
            pipes,
        )
    if kind == "date_range":
        from ..operators.es_metrics import date_range_agg

        ranges = [(r.get("from"), r.get("to")) for r in spec["ranges"]]
        return date_range_agg(
            df, spec["field"], ranges,
            extra_aggs=_metric_extra_aggs(sub, df) or None,
            # r12: bounds resolve in the zone through the shared range
            # rounding engine; date MATH works, now-anchored forms need
            # the body-level `now` key (reproducibility contract)
            time_zone=spec.get("time_zone"),
            now_ms=spec.get("now"),
        )
    if kind == "random_sampler":
        # ES runs the sub-tree on a p = 1/k sample and scales counts back
        # up. The engine's operator fuses the sample predicate with ONE
        # grouped aggregation, so the only sub-shape it accepts is a single
        # terms node (→ the group key) or none (→ the global estimate).
        from ..operators.es_metrics import random_sampler_agg

        group_cols: list[str] = []
        if sub:
            if len(sub) != 1:
                raise ValueError(
                    "random_sampler supports at most one terms sub-agg"
                )
            (sname, snode), = sub.items()
            skinds = [k for k in snode if k not in ("aggs", "aggregations", "meta")]
            if skinds != ["terms"] or "aggs" in snode or "aggregations" in snode:
                raise ValueError(
                    "random_sampler sub-agg must be a plain terms node"
                )
            group_cols = [snode["terms"]["field"]]
        prob = spec.get("probability")
        if prob is not None:
            inv = round(1.0 / float(prob))
            if abs(1.0 / inv - float(prob)) > 1e-12:
                raise ValueError(
                    "probability must be 1/k for integer k (exact integer "
                    "scale-up — the engine's determinism contract)"
                )
        else:
            inv = int(spec.get("inv_probability", 4))
        return random_sampler_agg(
            df, group_cols, inv_probability=inv,
            seed_salt=str(spec.get("seed", "sampler-v1")),
        )
    if kind == "diversified_sampler":
        # ES: cap docs per diversify value, keep the best shard_size, run
        # the sub-tree on the sample. The engine's operator fuses the
        # capped sample with ONE terms sub-agg (relevance rank := the
        # deterministic content hash — engine queries have no scores).
        from ..operators.es_metrics import diversified_sampler_terms

        if len(sub) != 1:
            raise ValueError(
                "diversified_sampler needs exactly one terms sub-agg"
            )
        (sname, snode), = sub.items()
        skinds = [k for k in snode if k not in ("aggs", "aggregations", "meta")]
        if skinds != ["terms"] or "aggs" in snode or "aggregations" in snode:
            raise ValueError(
                "diversified_sampler sub-agg must be a plain terms node"
            )
        return diversified_sampler_terms(
            df, spec["field"], snode["terms"]["field"],
            max_docs_per_value=int(spec.get("max_docs_per_value", 1)),
            shard_size=int(spec.get("shard_size", 100)),
            id_col=spec.get("id_field", "event_id"),
        )
    if kind == "sampler":
        # ES `sampler`: run the sub-tree on the best `shard_size` docs.
        # Engine queries carry no relevance scores, so rank := the
        # deterministic salted content hash (the diversified_sampler
        # stance), global top-n — Spark executes orderBy+limit as
        # TakeOrdered (per-partition heap + driver merge of n), never a
        # full sort, so the plan holds at 100 TB.
        n = int(spec.get("shard_size", 100))
        if n < 1:
            raise ValueError("sampler shard_size must be >= 1")
        id_col = spec.get("id_field", "event_id")
        sampled = df.orderBy(
            F.xxhash64(F.col(id_col), F.lit(str(spec.get("seed", "sampler-v1")))).asc(),
            F.col(id_col).asc(),
        ).limit(n)
        if not sub:
            return sampled.agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        if len(sub) != 1:
            raise ValueError(
                f"sampler agg {name!r} supports exactly one sub-agg frame "
                "(register siblings as separate top-level aggs)"
            )
        (sname, snode), = sub.items()
        child = _compile_agg(sampled, sname, snode, relations)
        child._es_child_name = sname
        return child
    if kind in ("children", "parent"):
        # ES parent-join context switch (join datatype docs): `children`
        # moves the agg context from parent docs to their children,
        # `parent` from children to their parents; doc_count is the
        # switched side's row count, sub-aggs compile over the switched
        # frame. The join uses run_search's `relations` dialect — the
        # same {name: (other_frame, key_on_df, key_on_other)} mapping
        # has_child/has_parent queries use. Plan shape at 100 TB: ONE
        # left-semi equi-join on exactly the key ES routes parent+child
        # docs on (AQE broadcasts the context key set when small;
        # bucketing both frames on the join key co-locates it at rest).
        rname = spec.get("type", spec.get("parent_type"))
        if not relations or rname not in relations:
            raise ValueError(
                f"{kind} agg {name!r} needs run_search(...,"
                " relations={name: (other_frame, key_on_df,"
                " key_on_other)}) declaring " + repr(rname)
            )
        other, key_df, key_other = relations[rname]
        keys = df.select(F.col(key_df).alias(key_other)).where(
            F.col(key_other).isNotNull()
        )
        switched = other.join(keys, on=key_other, how="leftsemi")
        if not sub:
            return switched.agg(
                F.count(F.lit(1)).cast("long").alias("doc_count")
            )
        if len(sub) != 1:
            raise ValueError(
                f"{kind} agg {name!r} supports exactly one sub-agg frame "
                "(register siblings as separate top-level aggs)"
            )
        (sname, snode), = sub.items()
        child = _compile_agg(switched, sname, snode, relations)
        child._es_child_name = sname
        return child
    if kind == "time_series":
        # ES TSDB `time_series` agg: one bucket per time-series id (the
        # dimension tuple), tsid-ascending, `size`-capped (ES default
        # 10000). ES derives the tsid from index-mapping `time_series_
        # dimension` fields; this engine has no mapping, so the spec
        # names them explicitly: {"time_series": {"dimensions": [...]}}
        # (documented dialect). Docs with a NULL dimension have no tsid
        # and drop (ES parity). Metric leaves ride the SAME hash
        # aggregation — one shuffle on the tsid, the key a 100 TB TSDB
        # is naturally partitioned by.
        dims = spec.get("dimensions")
        if not dims:
            raise ValueError(
                "time_series needs dimensions: [field, ...] — the engine"
                " has no index mapping to infer the tsid from"
            )
        extra = _metric_extra_aggs(sub, df)
        cond = F.lit(True)
        for f_ in dims:
            cond = cond & F.col(f_).isNotNull()
        return (
            df.where(cond)
            .groupBy(*dims)
            .agg(
                F.count(F.lit(1)).cast("long").alias("doc_count"),
                *extra.values(),
            )
            .orderBy(*[F.col(f_).asc() for f_ in dims])
            .limit(int(spec.get("size", 10000)))
        )
    if kind == "nested":
        # ES `nested` bucket agg: switch the aggregation context from
        # parent documents to their nested sub-documents (relational.py's
        # nested_agg shape, generalized to any array<struct> path). One
        # narrow explode — no shuffle, and Spark's nested-schema pruning
        # keeps unread struct fields out of the parquet scan. Nested
        # fields keep their ES spelling (`path.field` as a literal column
        # name — Spark resolves the exact name when no struct shadows it),
        # so the sub-tree's bodies read exactly like the index mapping.
        # Parent identity rides along for `reverse_nested` sub-aggs.
        from pyspark.sql import types as T

        path = spec["path"]
        dt = {f.name: f.dataType for f in df.schema}.get(path)
        if not (
            isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType)
        ):
            raise ValueError(
                f"nested path {path!r} must be an array<struct<…>> column"
            )
        # the sub-tree is compiled against SAFE flat names (`path__field`)
        # and the result renamed back to the ES spelling (`path.field`):
        # dotted literal columns can't be used directly because Spark's
        # missing-reference resolution digs the whole lineage and resolves
        # `path.field` as struct access on the original array column.
        safe = {f.name: f"{path}__{f.name}" for f in dt.elementType.fields}
        flat = (
            df.withColumn("__nested_parent", F.monotonically_increasing_id())
            .withColumn("__it", F.explode(path))
            .select(
                "__nested_parent",
                *[c for c in df.columns if c != path],
                *[
                    F.col(f"__it.{fname}").alias(s)
                    for fname, s in safe.items()
                ],
            )
        )
        if not sub:
            return flat.agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        if len(sub) != 1:
            raise ValueError(
                f"nested agg {name!r} supports exactly one sub-agg frame "
                "(register siblings as separate top-level aggs)"
            )

        # rewrite nested field names to their safe flat-column spellings
        # ONLY in field positions — dict keys (clause bodies / sort
        # entries key on the field) and values under field-naming keys.
        # A blanket string rewrite would clobber query VALUES that
        # happen to spell a nested field (r14 review finding).
        _FIELD_KEYS = frozenset({
            "field", "fields", "lat_field", "lon_field", "id_field",
            "minimum_should_match_field", "buckets_path",
        })

        def _safe_name(s):
            for fname, sf in safe.items():
                if s == f"{path}.{fname}":
                    return sf
            return s

        def _rewrite(node, in_field=False):
            if isinstance(node, dict):
                return {
                    _safe_name(k): _rewrite(v, in_field=k in _FIELD_KEYS)
                    for k, v in node.items()
                }
            if isinstance(node, list):
                return [_rewrite(v, in_field) for v in node]
            if isinstance(node, str) and in_field:
                return _safe_name(node)
            return node

        (sname, snode), = sub.items()
        child = _compile_agg(flat, sname, _rewrite(snode), relations)
        for fname, s in safe.items():
            if s in child.columns:
                child = child.withColumnRenamed(s, f"{path}.{fname}")
        child._es_child_name = sname
        return child
    # the remaining node types do not support sub-aggs here — honor the
    # module's 'never silently dropped' contract (filters is downstream
    # and takes one metric sub-agg itself)
    if sub and kind != "filters":
        raise ValueError(
            f"sub-aggs under {kind!r} (agg {name!r}) are not supported"
        )
    if kind == "geo_distance":
        # ES `geo_distance` range agg → operators.geo.geo_distance_agg.
        # The operator buckets by a contiguous edge ladder [0,e₁), [e₁,e₂),
        # …, [e_N,∞); the body's ranges must form that chain (arbitrary
        # overlapping ranges raise rather than misread).
        from ..operators.geo import geo_distance_agg

        origin = spec["origin"]
        if isinstance(origin, str):
            lat, lon = (float(x) for x in origin.split(","))
        elif isinstance(origin, (list, tuple)):  # GeoJSON order [lon, lat]
            lon, lat = float(origin[0]), float(origin[1])
        else:
            lat, lon = float(origin["lat"]), float(origin["lon"])
        unit = spec.get("unit", "m")
        try:
            to_km = {"m": 0.001, "km": 1.0, "mi": 1.609344}[unit]
        except KeyError:
            raise ValueError(f"unsupported geo_distance unit {unit!r}") from None
        if "value" not in df.columns:
            raise ValueError(
                "geo_distance aggregates doc_count + sum(value); the frame "
                "has no 'value' column"
            )
        edges, prev = [], 0.0
        ranges = spec["ranges"]
        for i, r in enumerate(ranges):
            frm = float(r.get("from", 0.0)) * to_km
            if abs(frm - prev) > 1e-9:
                raise ValueError(
                    "geo_distance ranges must form a contiguous ladder "
                    f"from 0 (range {i} starts at {frm} km, previous ended "
                    f"at {prev} km)"
                )
            if i < len(ranges) - 1:
                if "to" not in r:
                    raise ValueError(
                        "only the last geo_distance range may be open-ended"
                    )
                prev = float(r["to"]) * to_km
                edges.append(prev)
            elif "to" in r:
                raise ValueError("the last geo_distance range must omit 'to'")
        return geo_distance_agg(
            df, (lat, lon), tuple(edges),
            lat_col=spec.get("lat_field", "lat"),
            lon_col=spec.get("lon_field", "lon"),
        )
    if kind == "ip_range":
        # ES `ip_range` over a dotted-quad string column: address → uint32
        # via a native HOF fold (JVM-side, no UDF), then the range_agg
        # membership fan-out — per-row fan-out ≤ #ranges, one partial+final
        # agg, broadcast metadata join. Ranges may overlap (a doc lands in
        # every matching bucket) and come back in request order, like ES.
        from ..operators.relational import _ip_to_int

        field = spec["field"]
        ip = F.expr(
            f"aggregate(transform(split({field}, '\\\\.'), "
            "x -> CAST(x AS BIGINT)), 0L, (a, x) -> a * 256 + x)"
        )
        ranges = []
        for r in spec["ranges"]:
            if "mask" in r:
                base, _, bits = r["mask"].partition("/")
                span = 1 << (32 - int(bits))
                lo = _ip_to_int(base) // span * span  # align to the block
                ranges.append((r.get("key", r["mask"]), lo, lo + span))
            else:
                lo = _ip_to_int(r["from"]) if "from" in r else None
                hi = _ip_to_int(r["to"]) if "to" in r else None
                key = r.get("key", f"{r.get('from', '*')}-{r.get('to', '*')}")
                ranges.append((key, lo, hi))
        # ONE map-side agg of #ranges conditional counters (r14): the
        # previous explode(array(when...)) fan-out re-inlined the whole
        # address-parse expression into every bound check (2 x #ranges
        # copies of the split/fold tree — measured 1.36 s vs 0.30 s for
        # this shape at 100k rows), then paid a groupBy shuffle plus a
        # broadcast metadata join for a #ranges-row result. Projecting
        # the parsed address ONCE and counting each (possibly
        # overlapping) range as count(when(...)) is a single pass with a
        # 1-row partial/final agg; the bucket rows then unfold from that
        # single row in request order, zero-filled by count() naturally.
        parsed = df.where(F.col(field).isNotNull()).select(ip.alias("__ip"))
        counters = []
        for i, (_, lo, hi) in enumerate(ranges):
            cond = (
                ((F.col("__ip") >= F.lit(lo)) if lo is not None else F.lit(True))
                & ((F.col("__ip") < F.lit(hi)) if hi is not None else F.lit(True))
            )
            counters.append(
                F.count(F.when(cond, 1)).cast("long").alias(f"__c{i}")
            )
        one = parsed.agg(*counters)
        buckets = F.array(*[
            F.struct(
                F.lit(k).alias("key"), F.col(f"__c{i}").alias("doc_count")
            )
            for i, (k, _, _) in enumerate(ranges)
        ])
        return one.select(F.explode(buckets).alias("__b")).select(
            "__b.key", "__b.doc_count"
        )
    if kind == "ip_prefix":
        # ES 8.x ip_prefix over a dotted-quad string field: fold to uint32
        # (native HOF), floor to the /prefix_length network, one
        # partial+final agg keyed by the network address (the ES bucket
        # key order). is_ipv6 (r11): colon-hex text (full or
        # ::-compressed) parses to 8 sixteen-bit groups natively, the
        # /plen mask factorizes per group (exactly the 128-bit lattice —
        # operators.relational's graduation), keys render RFC 5952
        # canonical. Embedded-IPv4 tails ('::ffff:1.2.3.4') are outside
        # the dialect.
        if spec.get("is_ipv6"):
            return _ip_prefix_v6_agg_compiled(df, spec)
        field = spec["field"]
        plen = int(spec["prefix_length"])
        if not 1 <= plen <= 32:
            raise ValueError("ip_prefix prefix_length must be in [1, 32]")
        block = 2 ** (32 - plen)
        ip = F.expr(
            f"aggregate(transform(split({field}, '\\\\.'), "
            "x -> CAST(x AS BIGINT)), 0L, (a, x) -> a * 256 + x)"
        )
        net = (ip - F.pmod(ip, F.lit(block))).alias("__net")
        agg = (
            df.where(F.col(field).isNotNull())
            .select(net)
            .groupBy("__net")
            .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
            .where(F.col("doc_count") >= int(spec.get("min_doc_count", 1)))
        )
        key = F.concat_ws(
            ".",
            (F.col("__net") / 16777216).cast("long"),
            F.pmod((F.col("__net") / 65536).cast("long"), F.lit(256)),
            F.pmod((F.col("__net") / 256).cast("long"), F.lit(256)),
            F.pmod(F.col("__net"), F.lit(256)),
        )
        return (
            agg.select(
                "__net",
                key.alias("key"),
                F.lit(plen).cast("long").alias("prefix_length"),
                "doc_count",
            )
            .orderBy("__net")
            .drop("__net")
        )
    if kind == "top_hits":
        # standalone top_hits (the terms route compiles the nested form):
        # the global best `size` docs by the sort spec — orderBy+limit is
        # TakeOrdered (per-partition heap + driver merge), never a full
        # sort. `_source.includes` prunes the projection (column pruning
        # reaches the scan).
        (sort_ent,) = spec["sort"] if isinstance(spec["sort"], list) else [spec["sort"]]
        (sort_col, order), = sort_ent.items()
        order = order["order"] if isinstance(order, dict) else order
        sorted_df = df
        if isinstance(spec.get("_source"), dict) and "includes" in spec["_source"]:
            keep = list(spec["_source"]["includes"])
            if sort_col not in keep:
                keep.append(sort_col)
            sorted_df = df.select(*keep)
        c = F.col(sort_col)
        return sorted_df.orderBy(
            c.desc() if str(order).lower() == "desc" else c.asc()
        ).limit(int(spec.get("size", 3)))
    if kind == "frequent_item_sets":
        # ES 8.x frequent_item_sets → the Apriori operator. Each doc is a
        # basket (`id_field`); items are `field:value` strings drawn from
        # the requested fields (the ES per-field item space). A fractional
        # minimum_support resolves against the basket count (one scalar
        # count job — O(1) driver traffic), integers pass through.
        from math import ceil

        from ..operators.frequent_itemsets import frequent_item_sets

        fields = [f["field"] for f in spec["fields"]]
        id_col = spec.get("id_field", "event_id")
        baskets = None
        for f in fields:
            part = df.where(F.col(f).isNotNull()).select(
                F.col(id_col).alias("basket"),
                F.concat_ws(":", F.lit(f), F.col(f).cast("string")).alias("item"),
            )
            baskets = part if baskets is None else baskets.unionByName(part)
        baskets = baskets.distinct()
        msup = spec.get("minimum_support", 0.1)
        # ES minimum_support is a FRACTION of baskets; any float <= 1.0 is
        # fractional (1.0 = "every basket"), so only float > 1.0 (or an
        # int) passes through as an absolute count
        if isinstance(msup, float) and msup <= 1.0:
            n_tx = baskets.select("basket").distinct().count()
            msup = max(1, ceil(msup * n_tx))
        return frequent_item_sets(
            baskets,
            min_support=int(msup),
            min_set_size=int(spec.get("minimum_set_size", 2)),
            max_set_size=int(spec.get("maximum_set_size", 3)),
            size=int(spec.get("size", 10)),
        )
    if kind == "rate":
        # the engine's rate shape: monthly date_histogram buckets with
        # any unit that divides a month integrally (second/minute/hour/
        # day/month — exact integer math); week/quarter/year raise.
        from ..operators.es_metrics import rate_agg

        return rate_agg(
            df, spec.get("t_field", "t_ms"), spec["field"],
            unit=spec.get("unit", "day"),
        )
    if kind == "geo_line":
        from ..operators.geo import geo_line_agg

        (sort_field,) = (
            [spec["sort"]["field"]] if isinstance(spec.get("sort"), dict)
            else [spec.get("sort", "t_ms")]
        )
        return geo_line_agg(
            df, [],
            sort_col=sort_field,
            tiebreak_col=spec.get("id_field", "event_id"),
            size=int(spec.get("size", 500)),
            lat_col=spec.get("lat_field", "lat"),
            lon_col=spec.get("lon_field", "lon"),
            sort_order=str(spec.get("sort_order", "asc")).lower(),
        )
    if kind == "filters":
        from ..operators.es_aggs import filters_agg

        named = {
            fname: compile_query_sql_expr(fnode)
            for fname, fnode in spec["filters"].items()
        }
        metric = None
        if sub:
            if len(sub) != 1:
                raise ValueError(
                    "filters supports exactly one metric sub-agg"
                )
            (mname, mnode), = sub.items()
            (mkind, mspec), = (
                (k, v) for k, v in mnode.items()
                if k not in ("aggs", "aggregations", "meta")
            )
            metric = (mname, mkind, mspec["field"])
        return filters_agg(
            df, named,
            other_bucket=bool(spec.get("other_bucket")),
            other_key=spec.get("other_bucket_key", "_other_"),
            metric=metric,
        )
    if kind == "composite":
        from ..operators.es_aggs import composite_agg

        sources = []
        geotile_sources: dict = {}
        geohash_sources: dict = {}
        for s in spec["sources"]:
            (sname, snode), = s.items()
            (skind, sspec), = snode.items()
            # per-source direction + null-bucket flags (ES: order
            # asc/desc, missing_bucket buckets null-valued docs)
            om = (sspec.get("order", "asc"), bool(sspec.get("missing_bucket")))
            if skind == "terms":
                sources.append((sname, "terms", sspec["field"], None, *om))
            elif skind == "histogram":
                sources.append(
                    (sname, "histogram", sspec["field"], sspec["interval"], *om)
                )
            elif skind == "date_histogram":
                from ..params import parse_interval, parse_offset

                if sspec.get("time_zone"):
                    # composite keyset paging relies on the UTC key order;
                    # silently bucketing in UTC for a zoned request would
                    # be a silent divergence — loud, with the workaround
                    raise ValueError(
                        "composite date_histogram time_zone is not"
                        " supported — use a plain date_histogram with"
                        " time_zone, or page on the UTC grid"
                    )
                if "fixed_interval" in sspec:
                    # an explicit fixed_interval is ALWAYS fixed — "1d"
                    # must not sniff as the calendar alias (ES keeps the
                    # two keyword namespaces separate)
                    step_ms = parse_offset(sspec["fixed_interval"])
                    if step_ms < 1:
                        raise ValueError("fixed_interval must be >= 1 ms")
                else:
                    ikind, step_ms, iunit = parse_interval(
                        sspec.get("interval"), sspec.get("calendar_interval")
                    )
                    if ikind != "fixed":
                        # month/quarter/year are true calendar rounding —
                        # the date_trunc source. Sub-month calendar units
                        # are FIXED-WIDTH under the engine's pinned-UTC
                        # contract (the reference hardcodes tz = null):
                        # minute/hour/day are epoch-aligned modular
                        # floors, week is the Monday-anchored floor
                        # (anchor 1969-12-29) — keyset paging stays exact.
                        if iunit in ("month", "quarter", "year"):
                            sources.append(
                                (sname, "date_histogram_cal",
                                 sspec["field"], iunit, *om)
                            )
                            continue
                        cal_fixed = {
                            "second": (1_000, 0),
                            "minute": (60_000, 0),
                            "hour": (3_600_000, 0),
                            "day": (86_400_000, 0),
                            "week": (604_800_000, -259_200_000),
                        }
                        if iunit not in cal_fixed:
                            raise ValueError(
                                "composite calendar date_histogram source"
                                f" does not support unit {iunit!r}"
                            )
                        sources.append(
                            (sname, "date_histogram", sspec["field"],
                             cal_fixed[iunit], *om)
                        )
                        continue
                sources.append(
                    (sname, "date_histogram", sspec["field"], step_ms, *om)
                )
            elif skind == "geotile_grid":
                # r13: geotile as a composite source. The PAGING key is
                # ES's internal tile long (zoom<<58 | x<<29 | y —
                # GeoTileUtils encoding), precomputed as a synthetic
                # terms source so the keyset order matches ES exactly;
                # the response key renders back to "z/x/y". lat/lon
                # columns per the engine's geo convention; a NULL coord
                # has no tile (missing_bucket semantics apply).
                zoom = int(sspec.get("precision", 7))
                if not 0 <= zoom <= 29:
                    raise ValueError("geotile_grid precision in [0, 29]")
                latc = sspec.get("lat_field", "lat")
                lonc = sspec.get("lon_field", "lon")
                n = 1 << zoom
                UDEG = 1_000_000
                x = F.expr(
                    f"CAST((CAST({UDEG * 180} +"
                    f" round({lonc} * {float(UDEG)}) AS BIGINT)"
                    f" * {n}) div {UDEG * 360} AS BIGINT)"
                )
                x = F.least(x, F.lit(n - 1))
                latr = F.radians(F.col(latc))
                merc = (
                    F.lit(1.0)
                    - F.log(F.tan(latr) + F.lit(1.0) / F.cos(latr))
                    / F.lit(3.141592653589793)
                ) / F.lit(2.0)
                y = F.greatest(
                    F.least(F.floor(merc * F.lit(float(n))), F.lit(n - 1)),
                    F.lit(0),
                )
                key_long = (
                    F.lit(zoom).cast("long") * F.lit(1 << 58).cast("long")
                    + x.cast("long") * F.lit(1 << 29).cast("long")
                    + y.cast("long")
                )
                syn = f"__geotile_{sname}"
                # NULL-guard like the geohash source: least/greatest skip
                # NULLs, so without this a NULL lat or lon collapses to
                # the bottom-right corner tile instead of no tile
                df = df.withColumn(
                    syn,
                    F.when(
                        F.col(latc).isNotNull() & F.col(lonc).isNotNull(),
                        key_long,
                    ),
                )
                geotile_sources[sname] = zoom
                sources.append((sname, "terms", syn, None, *om))
            elif skind == "geohash_grid":
                # r13: geohash composite source — the base32 alphabet is
                # ASCII-increasing, so the fixed-length geohash STRING
                # sorts exactly like ES's numeric geohash key. r14 (guide
                # §1.2/§7.2): page on the PACKED LONG, not the string —
                # the geotile pattern. The `after` predicate is pushed
                # below the key Project by substitution, so a string key
                # re-inlined the whole lattice+interleave+char tree into
                # an interpreted Filter (~1.7 s/1M rows at sf0.1; the
                # generated predicate blows past the codegen method
                # limit). The long key keeps the pushed predicate a
                # handful of integer ops, and the base32 chars render
                # AFTER aggregation over page-size rows. Cell indices are
                # staged as their own projections so multi-use aliases
                # evaluate once (CollapseProject keeps non-cheap
                # multi-referenced aliases staged).
                from ..operators.geo import _geohash_exprs

                prec = int(sspec.get("precision", 4))
                if not 1 <= prec <= 12:
                    raise ValueError("geohash_grid precision in [1, 12]")
                latc = sspec.get("lat_field", "lat")
                lonc = sspec.get("lon_field", "lon")
                lon_cell, lat_cell, packed = _geohash_exprs(
                    prec, latc, lonc
                )
                syn = f"__geohash_{sname}"
                clon, clat = f"{syn}_lonc", f"{syn}_latc"
                df = df.withColumn(clon, F.expr(lon_cell)).withColumn(
                    clat, F.expr(lat_cell)
                )
                packed_expr = packed.replace("LON", clon).replace(
                    "LAT", clat
                )
                df = df.withColumn(
                    syn,
                    F.when(
                        F.col(latc).isNotNull() & F.col(lonc).isNotNull(),
                        F.expr(packed_expr).cast("long"),
                    ),
                ).drop(clon, clat)
                geohash_sources[sname] = prec
                sources.append((sname, "terms", syn, None, *om))
            else:
                raise ValueError(f"unsupported composite source {skind!r}")
        after = spec.get("after")
        if isinstance(after, dict):
            after = dict(after)
            for sname, zoom in geotile_sources.items():
                if sname in after and isinstance(after[sname], str):
                    z, tx, ty = (int(p_) for p_ in after[sname].split("/"))
                    after[sname] = (z << 58) + (tx << 29) + ty
            for sname, prec_ in geohash_sources.items():
                if sname in after and isinstance(after[sname], str):
                    from ..operators.geo import _BASE32

                    gh = after[sname]
                    if len(gh) != prec_:
                        raise ValueError(
                            f"geohash after cursor {gh!r} must have"
                            f" precision {prec_} characters"
                        )
                    packed_after = 0
                    for ch in gh:
                        packed_after = (packed_after << 5) | _BASE32.index(ch)
                    after[sname] = packed_after
            after = tuple(after[sname] for sname, *_ in sources)
        page = composite_agg(
            df, sources, size=int(spec.get("size", 10)), after=after
        )
        for sname, zoom in geotile_sources.items():
            mask = (1 << 29) - 1
            k = F.col(sname)
            page = page.withColumn(
                sname,
                F.when(
                    k.isNotNull(),
                    F.concat_ws(
                        "/",
                        F.lit(zoom),
                        # exact bitfield extraction: Column '/' is double
                        # division and loses integer precision past 2^53
                        # (zoom >= ~25 keys) — shift+mask never rounds
                        F.shiftright(k, 29)
                        .bitwiseAND(F.lit((1 << 29) - 1))
                        .cast("string"),
                        F.pmod(k, F.lit(1 << 29)).cast("string"),
                    ),
                ),
            )
        for sname, prec_ in geohash_sources.items():
            from ..operators.geo import _geohash_chars

            k = F.col(sname)
            # render the page's packed keys back to base32 — page-size
            # rows, never the corpus
            page = page.withColumn(
                sname,
                F.when(
                    k.isNotNull(), F.expr(_geohash_chars(sname, prec_, "char"))
                ),
            )
        return page
    if kind == "significant_terms":
        from ..operators.es_aggs import significant_terms

        # engine extension: "foreground" selects the foreground set (a DSL
        # body or ready SQL). ES's background_filter NARROWS THE
        # BACKGROUND: bg counts/totals are taken over docs matching it.
        if "foreground" not in spec:
            raise ValueError(
                "significant_terms needs a foreground: in a _search body"
                " with a query it is inferred (fg = the query hits, bg ="
                " the whole index — the ES top-level rule, r11); standalone"
                " or query-less use takes the 'foreground' extension"
                " explicitly as a DSL body or SQL"
            )
        fg = spec["foreground"]
        fg_sql = fg if isinstance(fg, str) else compile_query_sql_expr(fg)
        bg_sql = None
        if "background_filter" in spec:
            bgspec = spec["background_filter"]
            bg_sql = (
                bgspec if isinstance(bgspec, str)
                else compile_query_sql_expr(bgspec)
            )
        # ES spells the scoring heuristic as an empty-object sub-key
        # ({"jlh": {}} / {"chi_square": {}} / {"percentage": {}}); absent
        # means the engine's exact-integer lift (JLH's first factor)
        from ..operators.es_aggs import _SIG_SCORE_EXPRS

        heur = [k for k in spec if k in _SIG_SCORE_EXPRS]
        if len(heur) > 1:
            raise ValueError(
                f"significant_terms allows one scoring heuristic, got {heur}"
            )
        return significant_terms(
            df, spec["field"], fg_sql, size=int(spec.get("size", 10)),
            score=heur[0] if heur else "lift",
            background_where=bg_sql,
            min_doc_count=int(spec.get("min_doc_count", 3)),
        )
    if kind == "missing":
        from ..operators.es_metrics import missing_agg

        return missing_agg(df, spec["field"], [])
    if kind == "multi_terms":
        from ..operators.es_metrics import multi_terms_agg

        fields = [t["field"] for t in spec["terms"]]
        return multi_terms_agg(df, fields, size=int(spec.get("size", 10)))
    if kind == "auto_date_histogram":
        from ..operators.es_aggs import auto_date_histogram

        if spec.get("time_zone"):
            # the span-driven rounding ladder is UTC; silently computing
            # UTC buckets for a zoned request would be a silent divergence
            raise ValueError(
                "auto_date_histogram time_zone is not supported — pick the"
                " interval explicitly with date_histogram"
                " calendar_interval/fixed_interval + time_zone"
            )
        return auto_date_histogram(
            df, spec["field"],
            target_buckets=int(spec.get("buckets", 10)),
            minimum_interval=spec.get("minimum_interval"),
        )
    if kind == "percentiles":
        # exact interpolated percentiles (ES uses TDigest approximation; the
        # engine's exact sort-based percentile is deterministic cross-engine
        # — quantized to 10^-quantize longs, the repo-wide discipline)
        field = spec["field"]
        percents = [float(p) for p in spec.get("percents", (1, 5, 25, 50, 75, 95, 99))]
        scale = 10 ** int(spec.get("quantize", 4))
        # quantize-first (percentile over exact longs, floor the interpolant)
        # — the repo-wide cross-engine determinism discipline; Spark
        # `percentile` == DuckDB `quantile_cont` on integer inputs
        clean = df.where(F.col(field).isNotNull() & ~F.isnan(field)).select(
            F.round(F.col(field) * F.lit(scale)).cast("long").alias("__vq")
        )
        arr = ", ".join(repr(p / 100.0) for p in percents)
        wide = clean.agg(F.expr(f"percentile(__vq, array({arr}))").alias("__pv"))
        pcts = ", ".join(
            f"named_struct('pct', {p!r}D, 'v', __pv[{i}])"
            for i, p in enumerate(percents)
        )
        return wide.select(
            F.explode(F.expr(f"array({pcts})")).alias("__e")
        ).select(
            F.col("__e.pct").alias("pct"),
            F.floor(F.col("__e.v")).cast("long").alias("value_q"),
        ).orderBy("pct")
    if kind == "percentile_ranks":
        from ..operators.es_aggs import percentile_ranks

        return percentile_ranks(
            df, [], spec["field"], [float(v) for v in spec["values"]]
        )
    if kind == "geohash_grid":
        from ..operators.geo import geohash_grid

        return geohash_grid(
            df,
            precision=int(spec.get("precision", 5)),
            size=int(spec.get("size", 10000)),
            lat_col=spec.get("lat_field", "lat"),
            lon_col=spec.get("lon_field", "lon"),
        )
    if kind == "geotile_grid":
        from ..operators.geo import geotile_grid

        return geotile_grid(
            df,
            zoom=int(spec.get("precision", 7)),
            size=int(spec.get("size", 10000)),
            lat_col=spec.get("lat_field", "lat"),
            lon_col=spec.get("lon_field", "lon"),
        )
    if kind == "stats":
        from ..operators.es_aggs import value_stats_agg

        return value_stats_agg(df, [], spec["field"])
    if kind == "extended_stats":
        from ..operators.es_aggs import extended_stats_agg

        return extended_stats_agg(df, [], spec["field"])
    if kind == "weighted_avg":
        from ..operators.es_aggs import weighted_avg

        vspec = spec["value"]
        w = spec["weight"]
        # ES value.missing / weight.missing substitute for docs without
        # the field (r14: value.missing was silently dropped — docs ES
        # counts at the substitute were excluded)
        v = (
            f"COALESCE({vspec['field']}, {float(vspec['missing'])})"
            if "missing" in vspec else vspec["field"]
        )
        w_expr = (
            f"COALESCE({w['field']}, {float(w['missing'])})"
            if "missing" in w else w["field"]
        )
        return weighted_avg(df, [], v, w_expr)
    if kind == "median_absolute_deviation":
        from ..operators.es_metrics import mad_agg

        return mad_agg(df, spec["field"], [])
    if kind == "boxplot":
        from ..operators.es_metrics import boxplot_agg

        return boxplot_agg(df, spec["field"], [])
    if kind == "string_stats":
        from ..operators.es_metrics import string_stats_agg

        return string_stats_agg(df, spec["field"], [])
    if kind == "matrix_stats":
        from ..operators.es_aggs import matrix_stats

        fields = spec["fields"]
        if len(fields) != 2:
            raise ValueError(
                "matrix_stats compiles the pairwise form — exactly two fields"
            )
        return matrix_stats(df, fields[0], fields[1])
    if kind == "t_test":
        from ..operators.es_metrics import t_test_agg

        a, b = spec["a"], spec["b"]
        field = a.get("field", spec.get("field"))
        if b.get("field", field) != field:
            raise ValueError("t_test sides must probe the same field")
        return t_test_agg(
            df, field,
            compile_query_sql_expr(a["filter"]),
            compile_query_sql_expr(b["filter"]),
        )
    if kind == "top_metrics":
        from ..operators.es_aggs import top_metrics

        (sort_ent,) = spec["sort"] if isinstance(spec["sort"], list) else [spec["sort"]]
        (sort_col, order), = sort_ent.items()
        order = order["order"] if isinstance(order, dict) else order
        metrics = spec["metrics"]
        if isinstance(metrics, dict):
            metrics = [metrics]
        return top_metrics(
            df, [], sort_col, [m["field"] for m in metrics],
            descending=str(order).lower() == "desc",
        )
    if kind == "rare_terms":
        from ..operators.es_metrics import rare_terms_agg

        return rare_terms_agg(
            df, spec["field"], max_doc_count=int(spec.get("max_doc_count", 1))
        )
    if kind == "adjacency_matrix":
        from ..operators.es_metrics import adjacency_matrix_agg

        named = {
            fname: compile_query_sql_expr(fnode)
            for fname, fnode in spec["filters"].items()
        }
        return adjacency_matrix_agg(df, named)
    if kind == "variable_width_histogram":
        from ..operators.es_metrics import variable_width_histogram

        return variable_width_histogram(
            df, spec["field"], buckets=int(spec.get("buckets", 8))
        )
    if kind == "categorize_text":
        from ..operators.es_metrics import categorize_text

        return categorize_text(
            df, spec["field"], size=int(spec.get("size", 20)),
            tokens=int(spec.get("tokens", 4)),
            id_col=spec.get("id_field", "doc_id"),
        )
    if kind == "significant_text":
        from ..operators.es_aggs import significant_text

        if "foreground" not in spec:
            raise ValueError(
                "significant_text needs a foreground: in a _search body"
                " with a query it is inferred (fg = the query hits, bg ="
                " the whole index — the ES top-level rule, r11); standalone"
                " or query-less use takes the 'foreground' extension"
                " explicitly as a DSL body or SQL"
            )
        fg = spec["foreground"]
        fg_sql = fg if isinstance(fg, str) else compile_query_sql_expr(fg)
        if spec.get("filter_duplicate_text"):
            # ES filter_duplicate_text: near-duplicate docs (boilerplate,
            # reposts) would multiply their tokens into fake significance;
            # ES dedups via text hashing before counting — here: keep ONE
            # doc per exact text digest (min doc_id survivor), the same
            # md5-digest discipline as exact dedup. A map-side semi
            # structure: the digest groupBy is corpus-keyed like every
            # dedup pass; the survivor join is AQE-broadcast when small.
            from pyspark.sql import Window as _W

            fieldc = spec["field"]
            # id dialect (r14): honor the spec's id_field, defaulting to
            # whichever engine id the frame carries (doc_id/event_id) —
            # previously hardcoded doc_id and crashed on event frames
            idc = spec.get("id_field")
            if idc is None:
                idc = next(
                    (c for c in ("doc_id", "event_id") if c in df.columns),
                    None,
                )
            if idc is None:
                raise ValueError(
                    "filter_duplicate_text needs an id column (doc_id/"
                    "event_id, or pass id_field) to pick the survivor"
                )
            w = _W.partitionBy(F.md5(F.col(fieldc).cast("string")))
            df = (
                df.withColumn("__dup_min", F.min(idc).over(w))
                .where(F.col(idc) == F.col("__dup_min"))
                .drop("__dup_min")
            )
        # background_filter narrows the background set, same contract as
        # the significant_terms node (bg counts/totals over matching docs)
        bg_sql = None
        if "background_filter" in spec:
            bgspec = spec["background_filter"]
            bg_sql = (
                bgspec if isinstance(bgspec, str)
                else compile_query_sql_expr(bgspec)
            )
        return significant_text(
            df, spec["field"], fg_sql, size=int(spec.get("size", 10)),
            min_doc_count=int(spec.get("min_doc_count", 3)),
            background_where=bg_sql,
        )
    if kind == "geo_bounds":
        from ..operators.geo import geo_bounds_agg

        return geo_bounds_agg(
            df, [],
            lat_col=spec.get("lat_field", "lat"),
            lon_col=spec.get("lon_field", "lon"),
        )
    if kind == "geo_centroid":
        from ..operators.geo import geo_centroid_agg

        return geo_centroid_agg(
            df, [],
            lat_col=spec.get("lat_field", "lat"),
            lon_col=spec.get("lon_field", "lon"),
        )
    if kind in _METRICS:
        if sub:
            raise ValueError(f"metric agg {name!r} cannot carry sub-aggs")
        col = _METRICS[kind](_metric_input(spec)).alias(name)
        return df.agg(col)
    raise ValueError(f"unsupported agg type {kind!r} (agg {name!r})")


_PIPELINE_KINDS = (
    "cumulative_sum", "derivative", "moving_fn", "bucket_selector", "bucket_sort",
    "serial_diff", "bucket_script", "normalize", "cumulative_cardinality",
    "moving_percentiles", "inference",
)

_MOVING_FNS = {
    "max": F.max, "min": F.min, "sum": F.sum, "unweightedAvg": F.avg
}


def _split_sub(sub: dict):
    """Separate a histogram node's sub-aggs into metric leaves (become the
    operator's extra_aggs) and pipeline nodes (post-process the buckets)."""
    metrics, pipes = {}, {}
    for sname, snode in (sub or {}).items():
        skinds = [k for k in snode if k not in ("aggs", "aggregations", "meta")]
        (skind,) = skinds
        (pipes if skind in _PIPELINE_KINDS else metrics)[sname] = snode
    return metrics, pipes


def _path_col(path: str) -> str:
    return {"_count": "doc_count"}.get(path, path)


def _sub_bucket_params(script: str, buckets_path: dict) -> str:
    """Substitute ``params.<name>`` with the backticked bucket column —
    longest name first with a word boundary, so ``params.p`` cannot
    corrupt ``params.p2`` (the es_dsl._script_source discipline, r14)."""
    import re as _re

    for pname in sorted(buckets_path, key=len, reverse=True):
        col = f"`{_path_col(buckets_path[pname])}`"
        script = _re.sub(
            rf"params\.{_re.escape(pname)}\b", lambda _m: col, script
        )
    return script


def _apply_pipelines(buckets: DataFrame, pipes: dict, group_cols=()) -> DataFrame:
    """ES pipeline sub-aggs over the parent's bucket list — every one is a
    window / filter / sort over the RESULT-sized bucket frame, never a
    second pass over the raw data.

    - ``cumulative_sum`` / ``derivative`` — ``buckets_path`` (``_count`` →
      doc_count; a metric sub-agg name or the operator's ``value``); the
      derivative's first bucket is NULL (the ES contract).
    - ``moving_fn`` — ``window`` buckets BEFORE the current one (current
      excluded; ``shift`` slides right, ``shift=1`` includes the current —
      the ES parameter), ``script`` one of the deterministic
      MovingFunctions builtins ``MovingFunctions.max|min|sum|unweightedAvg
      (values)``; empty frames yield NULL (ES emits null there). The
      engine extension ``quantize`` rounds the input to ``10^-k`` longs
      first so max/min/sum are exact integers cross-engine.
    - ``bucket_selector`` — ``buckets_path`` maps script params to bucket
      columns; ``script`` (``params.<name> …``) compiles to a SQL
      predicate with each ``params.x`` substituted by its column. Buckets
      failing the predicate are dropped AFTER all computed pipelines (ES
      evaluates selectors on the finished bucket).
    - ``bucket_sort`` — ``sort`` [{col: {"order": …}}] + ``from``/``size``
      re-orders and truncates the bucket list per owning group (applied
      last, like ES).
    - ``serial_diff`` — ``x_t − x_{t−lag}``; the first ``lag`` buckets are
      NULL (the ES missing-lag policy).
    - ``bucket_script`` — computed column from a ``params.<name>`` script
      over ``buckets_path`` columns (same dialect as ``bucket_selector``).
    - ``normalize`` — the ES 8.x method set (``rescale_0_1``,
      ``rescale_0_100``, ``percent_of_sum``, ``mean``, ``z-score``,
      ``softmax``) over the owning group's whole bucket list; the engine
      extension ``quantize`` floors to ``10^k``-scaled longs for exact
      cross-engine comparison.

    ES pipeline evaluation order: computed pipelines in body order, then
    selectors, then sorts.
    """
    if not pipes:
        return buckets
    import re as _re

    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("key")
    selectors, sorts = [], []
    for sname, snode in pipes.items():
        (skind,) = [k for k in snode if k not in ("aggs", "aggregations", "meta")]
        spec = snode[skind]
        if skind == "bucket_selector":
            selectors.append(spec)
            continue
        if skind == "bucket_sort":
            sorts.append(spec)
            continue
        if skind == "cumulative_cardinality":
            # routed through _PIPELINE_KINDS but resolved at the
            # date_histogram node (it needs the raw ids, not the buckets)
            raise ValueError(
                "cumulative_cardinality is supported under a date_histogram"
                " (fixed or calendar interval, with offset) only"
            )
        if skind == "cumulative_sum":
            col = _path_col(spec.get("buckets_path", "value"))
            buckets = buckets.withColumn(
                sname,
                F.sum(col).over(w.rowsBetween(Window.unboundedPreceding, 0)),
            )
        elif skind == "derivative":
            col = _path_col(spec.get("buckets_path", "value"))
            buckets = buckets.withColumn(sname, F.col(col) - F.lag(col).over(w))
        elif skind == "moving_percentiles":
            # ES moving_percentiles, the engine's exact form: ONE
            # interpolated percentile (`percent`, default 50) of the
            # `window` buckets BEFORE the current one (current excluded,
            # `shift` slides right — the moving_fn frame contract). ES
            # merges TDigest sketches; over a result-sized bucket list the
            # exact sort-based percentile is deterministic and just as
            # cheap. Empty frames yield NULL. The engine extension
            # `quantize` floors to 10^k-scaled longs (cross-engine form).
            window = int(spec["window"])
            if window < 1:
                raise ValueError("moving_percentiles window must be >= 1")
            shift = int(spec.get("shift", 0))
            pct = float(spec.get("percent", 50.0))
            if not 0.0 <= pct <= 100.0:
                raise ValueError("moving_percentiles percent must be in [0, 100]")
            src = F.col(_path_col(spec.get("buckets_path", "value")))
            frame = w.rowsBetween(-window + shift, -1 + shift)
            arr = F.array_sort(F.collect_list(src).over(frame))
            n = F.size(arr)
            rank = (n - F.lit(1)).cast("double") * F.lit(pct / 100.0)
            lo = F.floor(rank).cast("int")
            frac = rank - lo.cast("double")
            base_v = F.element_at(arr, lo + 1).cast("double")
            nxt = F.when(lo + 2 <= n, F.element_at(arr, lo + 2).cast("double"))
            val = F.when(
                n > 0,
                base_v + F.coalesce((nxt - base_v) * frac, F.lit(0.0)),
            )
            if "quantize" in spec:
                val = F.floor(val * F.lit(10 ** int(spec["quantize"]))).cast("long")
            buckets = buckets.withColumn(sname, val)
        elif skind == "serial_diff":
            # ES serial_diff: x_t − x_{t−lag}; the first `lag` buckets are
            # NULL (exactly the ES gap-policy for missing lagged buckets)
            col = _path_col(spec.get("buckets_path", "value"))
            lag = int(spec.get("lag", 1))
            if lag < 1:
                raise ValueError("serial_diff lag must be >= 1")
            buckets = buckets.withColumn(
                sname, F.col(col) - F.lag(col, lag).over(w)
            )
        elif skind == "bucket_script":
            # like bucket_selector but PRODUCES a column: params.<name>
            # placeholders over buckets_path columns, script is a SQL
            # expression (the engine's script dialect, scripted_metric
            # stance). NULL inputs yield NULL (ES skips those buckets).
            script = spec["script"]
            if isinstance(script, dict):
                script = script["source"]
            script = _sub_bucket_params(script, spec["buckets_path"])
            if "params." in script:
                raise ValueError(
                    "bucket_script script references params not in "
                    f"buckets_path: {spec['script']!r}"
                )
            buckets = buckets.withColumn(sname, F.expr(script))
        elif skind == "inference":
            # ES inference pipeline agg with an INLINE model (engine
            # dialect: ES references a stored ml model; the engine takes
            # the weights in the body — deterministic, twin-exact).
            # linear: y = intercept + Σ coef_f · x_f over buckets_path
            # inputs; logistic adds the sigmoid, quantized 1e-6.
            model = spec["model"]
            mtype = model.get("type", "linear")
            if mtype not in ("linear", "logistic"):
                raise ValueError(f"unsupported inference model {mtype!r}")
            coefs = model["coefficients"]
            paths = spec["buckets_path"]
            missing = set(coefs) - set(paths)
            if missing:
                raise ValueError(
                    f"inference coefficients without buckets_path: "
                    f"{sorted(missing)}"
                )
            y = F.lit(float(model.get("intercept", 0.0)))
            for pname, wgt in coefs.items():
                y = y + F.lit(float(wgt)) * F.col(
                    _path_col(paths[pname])
                ).cast("double")
            if mtype == "logistic":
                y = F.lit(1.0) / (F.lit(1.0) + F.exp(-y))
                buckets = buckets.withColumn(
                    sname, F.floor(y * F.lit(1e6)).cast("long")
                )
            else:
                buckets = buckets.withColumn(sname, y)
        elif skind == "normalize":
            # ES 8.x normalize pipeline — rescale each bucket's metric
            # against the whole bucket list (per owning group). Formulas
            # are the documented ES method set; all are one whole-partition
            # window over the RESULT frame, never a second data pass.
            col = F.col(_path_col(spec.get("buckets_path", "value"))).cast("double")
            wall = Window.partitionBy(*group_cols).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            method = spec["method"]
            mn, mx = F.min(col).over(wall), F.max(col).over(wall)
            if method == "rescale_0_1":
                expr = (col - mn) / (mx - mn)
            elif method == "rescale_0_100":
                expr = (col - mn) / (mx - mn) * F.lit(100.0)
            elif method == "percent_of_sum":
                expr = col / F.sum(col).over(wall)
            elif method == "mean":
                expr = (col - F.avg(col).over(wall)) / (mx - mn)
            elif method == "z-score":
                expr = (col - F.avg(col).over(wall)) / F.stddev_pop(col).over(wall)
            elif method == "softmax":
                expr = F.exp(col) / F.sum(F.exp(col)).over(wall)
            else:
                raise ValueError(f"unsupported normalize method {method!r}")
            if "quantize" in spec:  # engine extension: exact cross-engine longs
                expr = F.floor(expr * F.lit(10 ** int(spec["quantize"]))).cast("long")
            buckets = buckets.withColumn(sname, expr)
        else:  # moving_fn
            window = int(spec["window"])
            if window < 1:
                raise ValueError("moving_fn window must be >= 1")
            shift = int(spec.get("shift", 0))
            src = F.col(_path_col(spec.get("buckets_path", "value")))
            if "quantize" in spec:
                src = F.round(src * F.lit(10 ** int(spec["quantize"]))).cast("long")
            frame = w.rowsBetween(-window + shift, -1 + shift)
            script = spec["script"]
            m = _re.fullmatch(r"\s*MovingFunctions\.(\w+)\(values\)\s*", script)
            m_ewma = _re.fullmatch(
                r"\s*MovingFunctions\.ewma\(values,\s*([0-9.]+)\)\s*", script
            )
            m_std = _re.fullmatch(
                r"\s*MovingFunctions\.stdDev\(values,\s*"
                r"MovingFunctions\.unweightedAvg\(values\)\)\s*", script
            )
            if m and m.group(1) in _MOVING_FNS:
                expr = _MOVING_FNS[m.group(1)](src).over(frame)
            elif m_std:
                # population stddev around the window mean — the ES
                # builtin's documented pairing
                expr = F.stddev_pop(src).over(frame)
            elif m and m.group(1) == "linearWeightedAvg":
                # weights 1..n rising toward the most recent bucket:
                # Σ i·v_i / Σ i over the frame values in window order
                vals = F.collect_list(src.cast("double")).over(frame)
                n = F.size(vals)
                num = F.aggregate(
                    F.zip_with(
                        vals,
                        F.transform(
                            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
                            lambda i: i.cast("double"),
                        ),
                        lambda v, i: v * i,
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                den = (n * (n + 1) / F.lit(2)).cast("double")
                expr = F.when(n > 0, num / den)
            elif m_ewma:
                # ES ewma fold: avg = α·v + (1−α)·avg, seeded by the first
                # window value; empty window → NULL
                alpha = float(m_ewma.group(1))
                vals = F.collect_list(src.cast("double")).over(frame)
                expr = F.aggregate(
                    vals,
                    F.lit(None).cast("double"),
                    lambda acc, x: F.coalesce(
                        F.lit(alpha) * x + F.lit(1.0 - alpha) * acc, x
                    ),
                )
            else:
                raise ValueError(
                    f"moving_fn script {script!r} is not a supported builtin"
                    " (MovingFunctions.max|min|sum|unweightedAvg|"
                    "linearWeightedAvg(values), .ewma(values, a), or"
                    " .stdDev(values, MovingFunctions.unweightedAvg(values)))"
                )
            buckets = buckets.withColumn(sname, expr)
    for spec in selectors:
        script = spec["script"]
        if isinstance(script, dict):
            script = script["source"]
        script = _sub_bucket_params(script, spec["buckets_path"])
        if "params." in script:
            raise ValueError(
                f"bucket_selector script references params not in buckets_path: "
                f"{spec['script']!r}"
            )
        buckets = buckets.where(F.expr(script))
    if not sorts:
        return buckets.orderBy(*group_cols, "key")
    from pyspark.sql import Window as _W

    for spec in sorts:
        order = []
        for ent in spec.get("sort", []):
            if isinstance(ent, str):
                order.append(F.col(_path_col(ent)).asc())
                continue
            (col, sub), = ent.items()
            desc = str(sub.get("order", "asc")).lower() == "desc"
            c = F.col(_path_col(col))
            order.append(c.desc() if desc else c.asc())
        order = order or [F.col("key").asc()]
        rw = _W.partitionBy(*group_cols).orderBy(*order, F.col("key").asc())
        frm = int(spec.get("from", 0))
        size = spec.get("size")
        rn = F.row_number().over(rw)
        buckets = buckets.withColumn("__bs_rn", rn).where(
            (F.col("__bs_rn") > frm)
            & ((F.col("__bs_rn") <= frm + int(size)) if size is not None else F.lit(True))
        ).drop("__bs_rn")
        buckets = buckets.orderBy(*group_cols, *order, F.col("key").asc())
    return buckets


def _extract_terms_sub(metrics: dict):
    """At most one ``terms`` node among a histogram's non-pipeline
    sub-aggs → ``(terms_spec, child_aggs)``; ``None`` if absent. The
    terms child must be the ONLY non-pipeline sub-agg — a sibling metric
    leaf would silently aggregate per (bucket, term) instead of per
    bucket, so that composition raises instead. Only ``field``/``size``
    terms options are supported here (``order``/``include``/``missing``
    under a histogram raise loudly — per-bucket variants of those have no
    single flattened grouping)."""
    tnames = [
        n for n, s in (metrics or {}).items()
        if "terms" in {k for k in s if k not in ("aggs", "aggregations", "meta")}
    ]
    if not tnames:
        return None
    if len(metrics) > 1:
        raise ValueError(
            "a terms sub-agg under a histogram must be the only"
            " non-pipeline sub-agg (sibling metric leaves would aggregate"
            " per (bucket, term)) — register siblings as a separate agg"
        )
    (tname,) = tnames
    tnode = metrics[tname]
    tspec = tnode["terms"]
    unsupported = set(tspec) - {"field", "size"}
    if unsupported:
        raise ValueError(
            f"terms under a histogram supports field/size only, got"
            f" {sorted(unsupported)}"
        )
    return tspec, tnode.get("aggs", tnode.get("aggregations", {}))


def _rank_terms_per_bucket(buckets: DataFrame, tfield: str, size: int) -> DataFrame:
    """ES per-bucket terms ranking over the flattened (bucket, term) frame:
    top-``size`` terms per histogram bucket by doc_count desc, key asc —
    the window partitions by the RESULT-sized bucket key, never the raw
    data."""
    from pyspark.sql import Window as _W

    rw = _W.partitionBy("key").orderBy(
        F.col("doc_count").desc(), F.col(tfield).asc()
    )
    return (
        buckets.withColumn("__tr", F.row_number().over(rw))
        .where(F.col("__tr") <= int(size))
        .drop("__tr")
        .orderBy("key", F.col("doc_count").desc(), F.col(tfield).asc())
    )


def _metric_extra_aggs(sub: dict, df: DataFrame | None = None) -> dict:
    """Metric-leaf sub-aggs under a histogram node → the operator's
    ``extra_aggs`` (per-bucket metric columns, the reference's §3.3
    sub-aggregation route). ``df`` (when given) lets metric leaves see
    the pre-``missing`` stash of the bucketing field."""
    extra = {}
    for sname, snode in (sub or {}).items():
        skinds = [k for k in snode if k not in ("aggs", "aggregations", "meta")]
        (skind,) = skinds
        if skind not in _METRICS:
            raise ValueError(
                f"unsupported sub-agg {skind!r} under a histogram (metric leaves only)"
            )
        extra[sname] = _METRICS[skind](
            _metric_input(snode[skind], df)
        ).alias(sname)
    return extra


def _proportional_sum(df: DataFrame, spec: dict, group_by, sub=None) -> DataFrame:
    from ..operators.proportional_sum import proportional_sum

    fields = spec["fields"]
    if not 3 <= len(fields) <= 4:
        raise ValueError("proportional_sum needs fields [start, end, value(, sampling)]")
    kw = {}
    for src, dst in (
        ("interval", "interval"),
        ("calendar_interval", "calendar_interval"),
        ("offset", "offset"),
        ("start", "start"),
        ("end", "end"),
        ("min_doc_count", "min_doc_count"),
        ("extended_bounds", "extended_bounds"),
        ("hard_bounds", "hard_bounds"),
        ("format", "key_format"),
        ("time_zone", "time_zone"),
        # engine extension (not ES): deterministic integer-quantized sums,
        # the cross-engine-reproducible mode the oracle gate runs in
        ("quantize", "quantize"),
    ):
        if src in spec:
            v = spec[src]
            if src in ("extended_bounds", "hard_bounds"):
                v = (v["min"], v["max"])
            kw[dst] = v
    if "order" in spec:
        # ES order: {"_key"|"_count"|metric: "asc"|"desc"} or a list of them
        entries = spec["order"]
        if isinstance(entries, dict):
            entries = [entries]
        order = []
        for e in entries:
            (k, d), = e.items()
            col = {"_key": "key", "_count": "doc_count"}.get(k, k)
            order.append((col, str(d).lower() == "asc"))
        kw["order"] = order
    extra = _metric_extra_aggs(sub, df)
    if extra:
        kw["extra_aggs"] = extra
    return proportional_sum(df, *fields, group_by=tuple(group_by), **kw)


# IPv6 text (full or ::-compressed colon-hex) → array<int> of the 8
# sixteen-bit groups, pure codegen: split the halves around '::', hex-parse
# each group (conv), pad the elision with zeros. '{f}' is the column name.
# The parse needs the text SIX times (contains + both halves twice each +
# the fallback) — binding it to lambda variables (a 1-element transform
# for the text, another for the split halves) evaluates the field
# expression ONCE per row; this matters when the field is a runtime
# mapping whose render is itself non-trivial (Catalyst inlines runtime
# columns per reference).
_V6_GROUPS_SQL = (
    "element_at(transform(array({f}), s -> "
    "CASE WHEN contains(s, '::') THEN element_at("
    "transform(array(struct("
    "filter(split(split_part(s, '::', 1), ':'), x -> x != '') AS lo,"
    " filter(split(split_part(s, '::', 2), ':'), x -> x != '') AS hi)),"
    " h -> concat("
    "transform(h.lo, x -> CAST(conv(x, 16, 10) AS INT)), "
    "array_repeat(0, 8 - size(h.lo) - size(h.hi)), "
    "transform(h.hi, x -> CAST(conv(x, 16, 10) AS INT)))), 1)"
    " ELSE transform(split(s, ':'), x -> CAST(conv(x, 16, 10) AS INT))"
    " END), 1)"
)


def _ip_prefix_v6_agg_compiled(df: DataFrame, spec: dict) -> DataFrame:
    """The `_search` route of ip_prefix over IPv6 text fields: parse →
    per-group /plen mask (the factorized 128-bit network floor) → ONE
    partial+final aggregation → RFC 5952 canonical keys on result-sized
    rows (operators.relational.ipv6_canonical, the pinned renderer),
    buckets in network order with is_ipv6: true — the ES 8.x contract
    (es-8.18.2 host surface; the operator twin is
    operators.relational.ip_prefix_v6_agg)."""
    from ..operators.relational import ipv6_canonical

    field = spec["field"]
    plen = int(spec["prefix_length"])
    if not 1 <= plen <= 128:
        raise ValueError("ipv6 ip_prefix prefix_length must be in [1, 128]")
    groups = F.expr(_V6_GROUPS_SQL.format(f=field))
    nets = []
    for j in range(8):
        g = F.element_at(groups, j + 1)
        keep = max(0, min(16, plen - 16 * j))
        if keep == 0:
            g = F.lit(0)
        elif keep < 16:
            block = 1 << (16 - keep)
            g = g - F.pmod(g, F.lit(block))
        nets.append(g.cast("int").alias(f"__n{j}"))
    agg = (
        df.where(F.col(field).isNotNull())
        .select(*nets)
        .groupBy(*[f"__n{j}" for j in range(8)])
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .where(F.col("doc_count") >= int(spec.get("min_doc_count", 1)))
    )
    key = ipv6_canonical(F.array(*[F.col(f"__n{j}") for j in range(8)]))
    return (
        agg.select(
            key.alias("key"),
            F.lit(plen).cast("long").alias("prefix_length"),
            F.lit(True).alias("is_ipv6"),
            "doc_count",
            *[f"__n{j}" for j in range(8)],
        )
        .orderBy(*[f"__n{j}" for j in range(8)])
        .drop(*[f"__n{j}" for j in range(8)])
    )


def _date_histogram(df: DataFrame, spec: dict, sub=None, group_by=()) -> DataFrame:
    from ..operators.proportional_sum import proportional_sum

    field = spec["field"]
    if "missing" in spec:
        # ES `missing`: docs lacking the time field bucket AT this epoch-ms
        # value (r12 — previously dropped silently, a divergence whenever
        # the request sets it). Per-agg scoped: metric sub-aggs over the
        # same field read the stash.
        df = _stash_grouping_missing(df, field, int(spec["missing"]))
    kw = {"group_by": tuple(group_by)} if group_by else {}
    extra = _metric_extra_aggs(sub, df)
    if extra:
        kw["extra_aggs"] = extra
    if "fixed_interval" in spec or "interval" in spec:
        kw["interval"] = spec.get("fixed_interval", spec.get("interval"))
    if "calendar_interval" in spec:
        kw["calendar_interval"] = spec["calendar_interval"]
    if "offset" in spec:
        kw["offset"] = spec["offset"]
    if "min_doc_count" in spec:
        kw["min_doc_count"] = spec["min_doc_count"]
    # ES spells bounds {"min": x, "max": y}; the operator takes tuples
    for bname in ("extended_bounds", "hard_bounds"):
        if bname in spec:
            b = spec[bname]
            kw[bname] = (
                (int(b["min"]), int(b["max"]))
                if isinstance(b, dict) else tuple(b)
            )
    if "time_zone" in spec:
        kw["time_zone"] = spec["time_zone"]
    if "format" in spec:
        kw["key_format"] = spec["format"]
    # zero-duration rows: start == end == the instant; value 1 per doc gives
    # the ES doc_count histogram, and the `value` column is the doc count
    inst = df.withColumn("__one", F.lit(1.0))
    return proportional_sum(inst, field, field, "__one", **kw).drop("value")


def _terms(df: DataFrame, spec: dict, sub: dict, parents: tuple = ()) -> DataFrame:
    """``parents`` carries (field, size) pairs of enclosing terms levels:
    nesting flattens to composite grouping (one row per leaf bucket with
    its parent keys; ES's nested tree re-assembles at the serving edge),
    and EACH level's ``size`` applies at that level — parent buckets rank
    by their total doc_count, children rank within their parent.

    ``missing`` (ES: bucket docs whose field is NULL under this value)
    rewrites the field before grouping. ``order`` ({"_key"|"_count"|
    <metric sub-agg name>: "asc"|"desc"}, or a list) is supported on the
    LEAF terms level of the metrics path — it drives BOTH the size
    truncation (ES prunes by the order, not always by count) and the
    output ordering; a non-default order on a level that carries a nested
    terms / proportional_sum / top_hits raises (parents rank by count,
    the ES default)."""
    field = spec["field"]
    size = int(spec.get("size", 10))
    if "missing" in spec:
        # per-agg scoped (ADVICE r12 item 3): metric sub-aggs over the
        # same field read the pre-substitution stash
        df = _stash_grouping_missing(df, field, spec["missing"])
    else:
        # ES terms drops docs whose field is missing (Spark groupBy would
        # keep a NULL bucket) — unless `missing` buckets them above
        df = df.where(F.col(field).isNotNull())
    # `include` / `exclude`: bucket-key filters — an explicit value list
    # or an anchored regex (Java dialect), applied BEFORE grouping
    # (equivalent to ES's key filtering: keys partition the rows, so
    # filtering rows by key == filtering buckets, and the predicate
    # pushes into the scan). `shard_size` is accepted and ignored — the
    # engine computes exact global buckets, there is no per-shard
    # approximation to widen.
    inc, exc = spec.get("include"), spec.get("exclude")
    if isinstance(inc, dict):
        # ES terms PARTITIONING ({"partition": P, "num_partitions": N}) —
        # the documented way to page a high-cardinality terms agg:
        # deterministic, disjoint, covering key slices. ES hashes global
        # ordinals (index-internal state); the engine's dialect hashes
        # the key BYTES (md5-60bit — identical in both engines and
        # stable across runs/clusters, which ordinals are not). Slice
        # membership therefore differs from ES's, but the contract a
        # paging client relies on (disjoint ∪ = all terms, stable across
        # requests) holds exactly.
        npart = int(inc["num_partitions"])
        part = int(inc["partition"])
        if not 0 <= part < npart:
            raise ValueError(
                f"include.partition must be in [0, {npart}), got {part}"
            )
        from .hashing import md5_hash60

        df = df.where(
            F.pmod(md5_hash60(F.col(field)), F.lit(npart)) == F.lit(part)
        )
        inc = None
    if inc is not None:
        df = df.where(
            F.col(field).isin(list(inc))
            if isinstance(inc, (list, tuple))
            else F.col(field).rlike(f"^(?:{inc})$")
        )
    if exc is not None:
        df = df.where(
            ~F.col(field).isin(list(exc))
            if isinstance(exc, (list, tuple))
            else ~F.col(field).rlike(f"^(?:{exc})$")
        )
    aggs = [F.count(F.lit(1)).cast("long").alias("doc_count")]
    psum_sub = psum_name = None
    metric_names = set()
    has_bucket_child = any(
        k in ("terms", "proportional_sum", "date_histogram", "top_hits")
        for snode in sub.values()
        for k in snode if k not in ("aggs", "aggregations", "meta")
    )
    if "order" in spec and has_bucket_child:
        raise ValueError(
            "terms order is supported on the leaf (metrics) level only — "
            "a level owning nested terms/proportional_sum/top_hits ranks "
            "by doc_count (the ES default)"
        )
    if "min_doc_count" in spec and (
        has_bucket_child
        or any("percentiles" in snode for snode in sub.values())
    ):
        raise ValueError(
            "terms min_doc_count is supported on the leaf (metrics) level"
            " only"
        )
    for sname, snode in sub.items():
        skinds = [k for k in snode if k not in ("aggs", "aggregations", "meta")]
        (skind,) = skinds
        if skind == "terms":
            if len(sub) > 1:
                raise ValueError("a nested terms node must be the only sub-agg")
            return _terms(
                df, snode[skind],
                snode.get("aggs", snode.get("aggregations", {})),
                parents=(*parents, (field, size)),
            )
        if skind in ("proportional_sum", "date_histogram"):
            if psum_sub is not None:
                raise ValueError(
                    "one nested proportional_sum/date_histogram per terms agg"
                )
            psum_sub, psum_name = snode, sname
            continue
        if skind == "top_hits":
            if len(sub) > 1:
                raise ValueError("a top_hits node must be the only sub-agg")
            return _top_hits(df, (*parents, (field, size)), sname, snode[skind])
        if skind == "percentiles":
            if len(sub) > 1:
                raise ValueError("a percentiles node must be the only sub-agg")
            return _grouped_percentiles(
                df, (*parents, (field, size)), snode[skind]
            )
        if skind == "reverse_nested":
            # ES `reverse_nested`: inside a nested bucket, jump back OUT
            # to the parent-document context — this bucket's doc_count is
            # the number of PARENT docs owning a matching nested doc
            # (relational.py reverse_nested_agg semantics). Rides the same
            # single aggregation as the metric leaves: countDistinct of
            # the parent identity the nested node carried through.
            if snode[skind] or snode.get("aggs") or snode.get("aggregations"):
                raise ValueError(
                    "reverse_nested supports the plain form (parent "
                    "doc_count; no parameters or sub-aggs)"
                )
            if "__nested_parent" not in df.columns:
                raise ValueError(
                    "reverse_nested is only valid inside a nested context"
                )
            aggs.append(
                F.countDistinct("__nested_parent").cast("long").alias(sname)
            )
            metric_names.add(sname)
            continue
        if skind not in _METRICS:
            raise ValueError(f"unsupported sub-agg {skind!r} under terms")
        aggs.append(_METRICS[skind](_metric_input(snode[skind], df)).alias(sname))
        metric_names.add(sname)
    parent_fields = [f for f, _ in parents]
    if psum_sub is not None:
        if len(sub) > 1:
            raise ValueError(
                "metric siblings beside a nested proportional_sum are not "
                "supported — put them under the proportional_sum node"
            )
        # the reference's nesting route (§3.3): the owning terms bucket(s)
        # become the operator's group_by. Each terms level's `size` applies
        # FIRST (ES computes sub-aggs only for the surviving buckets): prune
        # the input to the per-level top-size keys by doc count, then run
        # the operator grouped by the kept keys. date_histogram rides the
        # same route (it IS the zero-duration proportional_sum).
        pruned = _level_prune(df, (*parents, (field, size)))
        inner_sub = psum_sub.get("aggs", psum_sub.get("aggregations"))
        if "date_histogram" in psum_sub:
            res = _date_histogram(
                pruned, psum_sub["date_histogram"], sub=inner_sub,
                group_by=(*parent_fields, field),
            )
        else:
            res = _proportional_sum(
                pruned,
                psum_sub["proportional_sum"],
                group_by=(*parent_fields, field),
                sub=inner_sub,
            )
        res._es_child_name = psum_name  # for render_response's nested shape
        return res
    keys = [*parent_fields, field]
    out = df.groupBy(*keys).agg(*aggs)
    # `min_doc_count`: prune sparse buckets BEFORE ranking/size (ES
    # applies it ahead of the size truncation) — a result-sized filter
    mdc = int(spec.get("min_doc_count", 1))
    if mdc > 1:
        out = out.where(F.col("doc_count") >= mdc)
    # the leaf level's order spec — ES prunes AND sorts by it; default
    # (_count desc). _key orders by the term itself; a metric name orders
    # by that sub-agg column (validated against the registered aliases).
    entries = spec.get("order", [{"_count": "desc"}])
    if isinstance(entries, dict):
        entries = [entries]
    leaf_order = []
    for ent in entries:
        (k, d), = ent.items()
        asc = str(d).lower() == "asc"
        if k == "_key":
            col = field
        elif k == "_count":
            col = "doc_count"
        elif k in metric_names:
            col = k
        else:
            raise ValueError(
                f"terms order key {k!r} is not _key/_count or a metric "
                f"sub-agg of this level ({sorted(metric_names)})"
            )
        leaf_order.append(F.col(col).asc() if asc else F.col(col).desc())
    # per-level size: rank each PARENT level's buckets by their TOTAL
    # doc_count (desc, key asc) within their parent; rank the LEAF level by
    # its order spec — windows over the result-sized bucket frame, never
    # the raw data
    from pyspark.sql import Window

    levels = [*parents, (field, size)]
    for i, (lvl_field, lvl_size) in enumerate(levels):
        above = [f for f, _ in levels[:i]]
        if i == len(levels) - 1:
            rank_w = Window.partitionBy(*above).orderBy(
                *leaf_order, F.col(lvl_field).asc()
            )
            out = (
                out.withColumn("__lvl_rank", F.row_number().over(rank_w))
                .where(F.col("__lvl_rank") <= int(lvl_size))
                .drop("__lvl_rank")
            )
            continue
        total = F.sum("doc_count").over(
            Window.partitionBy(*above, lvl_field)
        )
        rank_w = Window.partitionBy(*above).orderBy(
            F.col("__lvl_total").desc(), F.col(lvl_field).asc()
        )
        out = (
            out.withColumn("__lvl_total", total)
            .withColumn("__lvl_rank", F.dense_rank().over(rank_w))
            .where(F.col("__lvl_rank") <= int(lvl_size))
            .drop("__lvl_total", "__lvl_rank")
        )
    return out.orderBy(
        *[F.col(f).asc() for f in parent_fields],
        *leaf_order, F.col(field).asc(),
    )


def _grouped_percentiles(df: DataFrame, levels: tuple, spec: dict) -> DataFrame:
    """``percentiles`` under terms bucket(s): per surviving bucket, exact
    interpolated percentiles of the quantized field (the same
    quantize-first discipline as the standalone node). Parent terms sizes
    prune first; one aggregation, exploded to (keys…, pct, value_q)."""
    field = spec["field"]
    percents = [float(p) for p in spec.get("percents", (1, 5, 25, 50, 75, 95, 99))]
    scale = 10 ** int(spec.get("quantize", 4))
    keys = [f for f, _ in levels]
    clean = _level_prune(df, levels).where(
        F.col(field).isNotNull() & ~F.isnan(field)
    ).select(
        *keys, F.round(F.col(field) * F.lit(scale)).cast("long").alias("__vq")
    )
    arr = ", ".join(repr(p / 100.0) for p in percents)
    wide = clean.groupBy(*keys).agg(
        F.expr(f"percentile(__vq, array({arr}))").alias("__pv")
    )
    pcts = ", ".join(
        f"named_struct('pct', {p!r}D, 'v', __pv[{i}])"
        for i, p in enumerate(percents)
    )
    return (
        wide.select(*keys, F.explode(F.expr(f"array({pcts})")).alias("__e"))
        .select(
            *keys,
            F.col("__e.pct").alias("pct"),
            F.floor(F.col("__e.v")).cast("long").alias("value_q"),
        )
        .orderBy(*keys, "pct")
    )


def _level_prune(df: DataFrame, levels: tuple) -> DataFrame:
    """Filter ``df`` to the rows whose terms keys survive each level's
    ``size`` (ES's bucket truncation: doc_count desc, key asc, per parent).
    The key table is bucket-counted (≤ Π sizes rows after ranking), so the
    semi-join broadcasts — the raw data is scanned once for the counts and
    once by the downstream operator, exactly ES's collect-then-reduce cost
    shape."""
    from pyspark.sql import Window

    fields = [f for f, _ in levels]
    keys = df.groupBy(*fields).agg(F.count(F.lit(1)).alias("__n"))
    for i, (lvl_field, lvl_size) in enumerate(levels):
        above = fields[:i]
        total = F.sum("__n").over(Window.partitionBy(*above, lvl_field))
        rank_w = Window.partitionBy(*above).orderBy(
            F.col("__lvl_total").desc(), F.col(lvl_field).asc()
        )
        keys = (
            keys.withColumn("__lvl_total", total)
            .withColumn("__lvl_rank", F.dense_rank().over(rank_w))
            .where(F.col("__lvl_rank") <= int(lvl_size))
            .drop("__lvl_total", "__lvl_rank")
        )
    return df.join(F.broadcast(keys.select(*fields)), fields, "left_semi")


def _top_hits(df: DataFrame, levels: tuple, name: str, spec: dict) -> DataFrame:
    """``top_hits`` under terms bucket(s): per surviving bucket, the
    ``size`` best documents by the (single-field) ``sort`` spec, projecting
    the ``_source`` columns. Parent terms sizes prune first, then one
    ranking window per bucket key (operators.es_metrics.top_hits_agg)."""
    from ..operators.es_metrics import top_hits_agg

    sort = spec.get("sort", [])
    if len(sort) != 1:
        raise ValueError("top_hits needs exactly one sort entry")
    ent = sort[0]
    if isinstance(ent, str):
        sort_col, order = ent, "desc"
    else:
        (sort_col, sub), = ent.items()
        order = str(sub.get("order", "desc")).lower()
    src = spec.get("_source", ())
    if isinstance(src, dict):
        # the canonical ES object form {"includes": [...]} — tuple(dict)
        # would yield the dict's KEYS as carry columns (r14)
        src = src.get("includes", ())
    carry = tuple(src)
    return top_hits_agg(
        _level_prune(df, levels),
        [f for f, _ in levels],
        sort_col=sort_col,
        id_col=spec.get("id_field", "event_id"),
        carry_cols=carry,
        size=int(spec.get("size", 3)),
        order=order,
    )


def run_count(df: DataFrame, body: dict | None = None) -> DataFrame:
    """The ES ``_count`` API: one row ``(count)`` of docs matching the
    body's ``query`` (``match_all`` when absent). One aggregation job —
    count(*) with the predicate pushed to the scan."""
    if body and "query" in body:
        df = df.where(compile_query(body["query"]))
    return df.agg(F.count(F.lit(1)).cast("long").alias("count"))


def run_msearch(tables: dict[str, DataFrame], requests: list) -> list:
    """The ES ``_msearch`` API: a list of ``{"index": name, "body":
    {...}}`` requests against named frames; returns the per-request
    :func:`run_search` result dicts in order. Plans compile eagerly but
    lazily execute — a caller that materializes them concurrently gets
    the multi-search parallelism ES provides, from one session."""
    out = []
    for req in requests:
        idx = req["index"]
        if idx not in tables:
            raise ValueError(
                f"msearch index {idx!r} not registered "
                f"(have {sorted(tables)})"
            )
        out.append(run_search(tables[idx], req["body"]))
    return out


def paginate_composite(df: DataFrame, body: dict, agg_name: str):
    """Generator over EVERY page of a ``composite`` agg body — the loop an
    ES client runs with ``after_key``: yield the page, feed its last key
    tuple back as ``after``, stop when a page comes back short. The body
    is never mutated (each iteration compiles a fresh copy). Each page is
    one bounded aggregation job over the full frame — the same
    cursor-predicate pushdown as ES (the `after` filter prunes at the
    scan, so later pages aggregate strictly less data)."""
    import copy

    aggs = body.get("aggs", body.get("aggregations", {}))
    spec = aggs[agg_name]["composite"]
    size = int(spec.get("size", 10))
    src_names = [next(iter(s)) for s in spec["sources"]]
    after = spec.get("after")
    while True:
        b = copy.deepcopy(body)
        cspec = b.get("aggs", b.get("aggregations"))[agg_name]["composite"]
        if after is not None:
            cspec["after"] = after
        else:
            cspec.pop("after", None)
        rows = run_search(df, b)[agg_name].collect()
        if not rows:
            return
        yield rows
        if len(rows) < size:
            return
        after = {n: rows[-1][n] for n in src_names}


def _knn_scored(df: DataFrame, spec: dict, keep: list) -> DataFrame:
    """Shared knn scoring: the spec's pre-``filter``, cosine/dot score
    against the literal ``query_vector`` (quantized to the 10^-6 quanta
    of ``operators.similarity``), ordered (score desc, keep-cols asc) so
    the top-k frontier is total-ordered in both engines. Callers limit.
    ``num_candidates`` is an HNSW recall knob — exact search is recall
    1.0, so it is accepted and ignored. Plan: scan → filter → HOF score
    projection → TakeOrdered at the caller's limit (per-partition heaps,
    never a full sort)."""
    sim = spec.get("similarity", "cosine")
    if sim not in ("cosine", "dot_product", "l2_norm", "max_inner_product"):
        raise ValueError(f"unsupported knn similarity {sim!r}")
    from .vectors import dot, l2_norm, lit_vec

    hits = df
    if "filter" in spec:
        filters = spec["filter"]
        if isinstance(filters, dict):
            filters = [filters]
        for f in filters:  # ES accepts one filter or a list (ANDed)
            hits = hits.where(compile_query(f))
    qv = lit_vec([float(x) for x in spec["query_vector"]])
    v = F.transform(F.col(spec["field"]), lambda x: x.cast("double"))
    if sim == "l2_norm":
        # r10: ES ranks l2_norm by SMALLEST distance; _score = 1/(1+d²)
        # is the same total order. d² spelled as q·q + v·v − 2·q·v so the
        # DuckDB twin (list_dot_product) replays the identical IEEE op
        # sequence — the same parity argument as the cosine score.
        d2 = dot(qv, qv) + dot(v, v) - F.lit(2.0) * dot(qv, v)
        score = F.lit(1.0) / (F.lit(1.0) + d2)
    else:
        score = dot(qv, v)
        if sim == "cosine":
            score = score / (l2_norm(qv) * l2_norm(v))
        elif sim == "max_inner_product":
            # ES's piecewise positive transform: dot<0 -> 1/(1-dot),
            # else dot+1 — strictly monotone in the raw inner product
            score = F.when(
                score < 0, F.lit(1.0) / (F.lit(1.0) - score)
            ).otherwise(score + F.lit(1.0))
    scored = hits.select(
        *keep, F.floor(score * F.lit(1e6)).cast("long").alias("_score_q")
    )
    return scored.orderBy(
        F.col("_score_q").desc(), *[F.col(c).asc() for c in keep]
    )


def _knn_indexed_scored(spark, spec: dict, keep: list) -> DataFrame:
    """knn through a stored IVF index (``spec["index"] = {"path",
    "nprobe"}``, built by ``operators.similarity.build_ivf_index``): read
    the centroid table at ``path/_centroids`` (O(n_centroids · dim)
    bytes), rank cells for the literal query vector DRIVER-SIDE with the
    exact arithmetic of ``ivf_assign``'s cell score (sequential-fold dot,
    ``floor(dot / |c| · 1e6)`` integer quanta, ties to the lower cid), and
    scan ONLY the probed cell partitions — Catalyst prunes the rest at
    planning time, so probe I/O is nprobe/n_centroids of the corpus at
    any scale. Scoring/ordering then matches the exact tier bit-for-bit
    within the probed cells (the ``ann_knn_cells`` determinism contract:
    cell assignment and probe selection are integer-quantized, so the
    candidate SET is engine-reproducible)."""
    import math

    ispec = spec["index"]
    nprobe = int(ispec.get("nprobe", 4))
    cents = spark.read.parquet(ispec["path"] + "/_centroids").collect()
    qv_list = [float(x) for x in spec["query_vector"]]
    ranked = []
    for r in cents:
        acc = 0.0
        for x, y in zip(qv_list, r["embedding"]):
            acc += x * y  # sequential fold == the stored assignment's order
        ranked.append((-math.floor(acc / r["nm"] * 1e6), int(r["cid"])))
    probed = [cid for _, cid in sorted(ranked)[:nprobe]]
    hits = spark.read.parquet(ispec["path"]).where(F.col("cell").isin(probed))
    missing = [c for c in keep if c not in hits.columns]
    if missing:
        raise ValueError(
            f"knn index at {ispec['path']!r} does not carry columns"
            f" {missing} — rebuild with build_ivf_index(keep_cols=...)"
        )
    # filter / similarity / scoring / ordering are the exact tier's —
    # delegate so the two paths cannot drift (ADVICE r7)
    return _knn_scored(hits, spec, keep)


def _standard_retriever_body(rspec: dict) -> dict:
    """Normalize a `standard` retriever spec into a hits body: `query` +
    ES's `filter` (compiled into a bool filter context) + the REQUIRED
    `sort` (the engine has no _score). Unknown keys raise — silently
    dropping a filter would return wrong rankings."""
    if "sort" not in rspec:
        raise ValueError(
            "standard retriever needs an explicit sort (engine hits"
            " carry no _score)"
        )
    unknown = set(rspec) - {"query", "filter", "sort"}
    if unknown:
        raise ValueError(
            f"unsupported standard-retriever keys {sorted(unknown)}"
        )
    sub = {"sort": rspec["sort"]}
    if "filter" in rspec:
        filters = rspec["filter"]
        if isinstance(filters, dict):
            filters = [filters]
        boolq = {"filter": list(filters)}
        if "query" in rspec:
            boolq["must"] = [rspec["query"]]
        sub["query"] = {"bool": boolq}
    elif "query" in rspec:
        sub["query"] = rspec["query"]
    return sub


def _feature_score_source(kind: str, rspec: dict) -> str:
    """SQL score expression for the ``rank_feature`` / ``distance_feature``
    RETRIEVER kinds (r13) — the ES scoring functions as portable SQL,
    consumed by :func:`_script_score_ranked`.

    rank_feature functions (exactly one; ES's implicit saturation pivot
    is an index statistic the engine doesn't keep, so ``pivot`` is
    REQUIRED here): ``saturation`` x/(x+pivot), ``log``
    ln(scaling_factor + x), ``sigmoid`` x^exp/(x^exp + pivot^exp),
    ``linear`` x.

    distance_feature: ``pivot/(pivot + |field − origin|)`` for
    numeric/date fields (origin/pivot in the field's units — epoch ms
    for dates), or the haversine form when ``origin`` is a
    ``{lat, lon}`` object (pivot in meters, ``lat_field``/``lon_field``
    default lat/lon)."""
    if kind == "rank_feature":
        f = rspec["field"]
        funcs = [k for k in ("saturation", "log", "sigmoid", "linear")
                 if k in rspec]
        if len(funcs) > 1:
            raise ValueError(
                f"rank_feature takes one scoring function, got {funcs}"
            )
        fn = funcs[0] if funcs else "saturation"
        spec = rspec.get(fn, {})
        if fn == "saturation":
            if "pivot" not in spec:
                raise ValueError(
                    "rank_feature saturation needs an explicit pivot (the"
                    " ES default pivot is an index statistic this engine"
                    " does not keep)"
                )
            p = float(spec["pivot"])
            return f"({f} / ({f} + {p!r}))"
        if fn == "log":
            sf = float(spec.get("scaling_factor", 1.0))
            return f"ln({sf!r} + {f})"
        if fn == "sigmoid":
            p, e = float(spec["pivot"]), float(spec["exponent"])
            return f"(pow({f}, {e!r}) / (pow({f}, {e!r}) + pow({p!r}, {e!r})))"
        return f"({f})"  # linear
    # distance_feature
    origin, pivot = rspec["origin"], rspec["pivot"]
    if isinstance(origin, dict) or (
        isinstance(origin, (list, tuple)) and len(origin) == 2
    ):
        from ..operators.geo import _haversine_m
        from .es_dsl import _parse_distance_m

        if isinstance(origin, dict):
            olat, olon = float(origin["lat"]), float(origin["lon"])
        else:  # ES geo arrays are [lon, lat]
            olon, olat = float(origin[0]), float(origin[1])
        pm = _parse_distance_m(pivot) if isinstance(pivot, str) else float(pivot)
        dist = _haversine_m(
            rspec.get("lat_field", "lat"), rspec.get("lon_field", "lon"),
            olat, olon,
        )
        return f"({pm!r} / ({pm!r} + {dist}))"
    o, p = float(origin), float(pivot)
    f = rspec["field"]
    return f"({p!r} / ({p!r} + abs({f} - {o!r})))"


def _script_score_ranked(df: DataFrame, rspec: dict, size: int) -> DataFrame:
    """The ``script_score`` retriever (r13): filter by the optional inner
    ``query``, rank by the script — the engine's SQL expression dialect
    (runtime_mappings contract, NOT Painless) — descending, quantized to
    integer 1e-6 like the knn tier so ranking cannot drift across
    engines. ``id_field`` is the REQUIRED total-order tiebreak (hit
    identity is a relational column here; ES's implicit ``_id``).

    Plan shape: scan → optional pushed filter → one codegen projection
    (the script + quantization) → TakeOrdered(size) per-partition heaps —
    zero shuffles, the es_search_geo_sort recipe."""
    from .es_dsl import _script_source, compile_query

    id_field = rspec.get("id_field")
    if not id_field:
        raise ValueError(
            "script_score retriever needs id_field (the hit-identity"
            " column — the deterministic rank tiebreak)"
        )
    src = _script_source(rspec)
    base = df.where(compile_query(rspec["query"])) if "query" in rspec else df
    scored = base.withColumn(
        "_score_q", F.floor(F.expr(src) * F.lit(1e6)).cast("long")
    )
    if "min_score" in rspec:
        scored = scored.where(
            F.col("_score_q")
            >= int(float(rspec["min_score"]) * 1e6)
        )
    return scored.orderBy(
        F.col("_score_q").desc(), F.col(id_field).asc()
    ).limit(size)


def _run_retriever(df: DataFrame, body: dict) -> DataFrame:
    """The ES 8.14+ ``retriever`` tree. Supported nodes:

    - ``standard`` — ``query`` (optional) + ``sort`` (REQUIRED: the
      engine has no ``_score``, so the ranking must name its order — the
      same stance as hits retrieval);
    - ``knn`` — the vector retriever (ranks by similarity desc);
    - ``script_score`` (r13) — ranks by a script in the engine's SQL
      expression dialect (:func:`_script_score_ranked`);
    - ``rrf`` — Reciprocal Rank Fusion of its child ``retrievers``:
      ``score = Σ 1e12 div (rank_constant + rank_i)`` over each child's
      top ``rank_window_size`` (a doc outside a child's window
      contributes 0 — the ES contract, same integer quanta as
      ``operators.es_metrics.rrf_fusion``). Needs ``id_field`` (engine
      dialect: hit identity is a relational column, ES's implicit
      ``_id``).

    Scale: each child ranking is a TakeOrdered window; fusion joins
    window-sized frames only."""
    spec = body["retriever"]
    if len(spec) != 1:
        raise ValueError("retriever must have exactly one node type")
    (kind, rspec), = spec.items()
    size = int(body.get("size", 10))
    if kind == "standard":
        sub = _standard_retriever_body(rspec)
        sub["size"] = size
        if "_source" in body:
            sub["_source"] = body["_source"]
        return run_search(df, sub)["_hits"]
    if kind == "knn":
        return _knn_scored(
            df, rspec,
            [c for c in df.columns if c != rspec["field"]],
        ).limit(min(int(rspec.get("k", size)), size))
    if kind == "script_score":
        return _script_score_ranked(df, rspec, size)
    if kind in ("rank_feature", "distance_feature"):
        # score-shaping kinds as retrievers (r13): compile the ES scoring
        # function to a SQL script and ride the script_score ranker. The
        # filter-context matching rule holds: only field-bearing docs
        # rank (the exists guard composes with any user query).
        src = _feature_score_source(kind, rspec)
        guard_field = (
            rspec.get("lat_field", "lat")
            if kind == "distance_feature" and "field" not in rspec
            else rspec["field"]
        )
        exists_q = {"exists": {"field": guard_field}}
        q = (
            {"bool": {"must": [rspec["query"], exists_q]}}
            if "query" in rspec else exists_q
        )
        spec2 = {
            k: v for k, v in rspec.items()
            if k in ("id_field", "min_score")
        }
        spec2.update({"script": {"source": src}, "query": q})
        return _script_score_ranked(df, spec2, size)
    if kind == "rescorer":
        # ES 8.18 `rescorer` retriever: run the child retriever, then
        # apply the rescore section to its window — the retriever-tree
        # spelling of the top-level `rescore` (same _rescore_hits
        # contract: script_score rescore_query over the page's columns,
        # original ranking's top window_size only). The child must
        # SCORE (knn / script_score — frames carrying _score_q).
        child = rspec["retriever"]
        if len(child) != 1:
            raise ValueError("rescorer takes one child retriever")
        (ckind, cspec), = child.items()
        id_field = rspec.get("id_field", cspec.get("id_field"))
        if not id_field:
            raise ValueError("rescorer needs id_field (hit identity)")
        window = int(rspec.get("rank_window_size", 10))
        if ckind == "knn":
            keep = [c for c in df.columns if c != cspec["field"]]
            top = _knn_scored(df, cspec, keep).limit(
                max(window, int(cspec.get("k", window)))
            )
        elif ckind == "script_score":
            top = _script_score_ranked(
                df, {**cspec, "id_field": id_field},
                max(window, size),
            )
            keep = [c for c in top.columns if c != "_score_q"]
        else:
            raise ValueError(
                f"rescorer child retriever {ckind!r} unsupported — the"
                " child must produce scores (knn / script_score)"
            )
        rs = rspec["rescore"]
        rs = rs.get("query") and rs or {"query": rs}
        page = _rescore_hits(top, {"window_size": window, **rs}, keep)
        return page.limit(size)
    if kind == "linear":
        # ES 8.18 `linear` retriever: weighted sum of per-child
        # normalized scores over each child's top rank_window_size;
        # a doc outside a child's window contributes 0. Children must
        # SCORE (knn / script_score — the engine has no text _score;
        # standard raises naming script_score). Normalizers work from
        # the child's integer _score_q stats so both engines replay the
        # identical arithmetic: minmax = (s−min)/(max−min) on exact-int
        # quanta (degenerate window ⇒ 1.0), l2_norm divides by
        # sqrt(Σ s_q²) computed as an EXACT integer sum (order-free),
        # none = raw quanta / 1e6. Final score re-quantized to 1e-6.
        # Scale: every stat/fusion frame is window-sized; the min/max
        # and Σs² scalars are 1-row broadcasts (the adjudicated
        # scalar-total pattern).
        id_field = rspec.get("id_field")
        if not id_field:
            raise ValueError(
                "linear retriever needs id_field (the hit-identity"
                " column)"
            )
        window = int(rspec.get("rank_window_size", 100))
        entries = rspec["retrievers"]
        if len(entries) < 2:
            raise ValueError("linear needs at least two child retrievers")
        parts = []
        for i, ent in enumerate(entries):
            child = ent["retriever"]
            weight = float(ent.get("weight", 1.0))
            norm = str(ent.get("normalizer", "none")).lower()
            if len(child) != 1:
                raise ValueError(
                    "each linear child must have one retriever type"
                )
            (ckind, cspec), = child.items()
            if ckind == "knn":
                top = _knn_scored(df, cspec, [id_field]).limit(
                    int(cspec.get("k", window))
                )
            elif ckind == "script_score":
                top = _script_score_ranked(
                    df, {**cspec, "id_field": id_field}, window
                )
            else:
                raise ValueError(
                    f"linear child retriever {ckind!r} unsupported — the"
                    " engine has no text _score; rank standard queries"
                    " with a script_score child"
                )
            top = top.groupBy(id_field).agg(
                F.max("_score_q").alias("__sq")
            )
            if norm == "minmax":
                mm = top.agg(
                    F.min("__sq").alias("__mn"), F.max("__sq").alias("__mx")
                )
                top = top.crossJoin(F.broadcast(mm))
                frac = F.when(
                    F.col("__mx") > F.col("__mn"),
                    (F.col("__sq") - F.col("__mn")).cast("double")
                    / (F.col("__mx") - F.col("__mn")).cast("double"),
                ).otherwise(F.lit(1.0))
            elif norm in ("l2_norm", "l2"):
                nm = top.agg(
                    F.sum(F.col("__sq") * F.col("__sq")).alias("__ss")
                )
                top = top.crossJoin(F.broadcast(nm))
                frac = F.when(
                    F.col("__ss") > 0,
                    F.col("__sq").cast("double")
                    / F.sqrt(F.col("__ss").cast("double")),
                ).otherwise(F.lit(0.0))
            elif norm == "none":
                frac = F.col("__sq").cast("double") / F.lit(1e6)
            else:
                raise ValueError(
                    f"unsupported linear normalizer {norm!r}"
                    " (minmax / l2_norm / none)"
                )
            parts.append(
                top.select(
                    id_field,
                    (F.lit(weight) * frac).alias(f"__c{i}"),
                )
            )
        fused = parts[0]
        for r in parts[1:]:
            fused = fused.join(r, id_field, "full_outer")
        total = F.coalesce(F.col("__c0"), F.lit(0.0))
        for i in range(1, len(parts)):
            total = total + F.coalesce(F.col(f"__c{i}"), F.lit(0.0))
        return (
            fused.withColumn(
                "score_q", F.floor(total * F.lit(1e6)).cast("long")
            )
            .select(id_field, "score_q")
            .orderBy(F.col("score_q").desc(), F.col(id_field).asc())
            .limit(size)
        )
    if kind != "rrf":
        raise ValueError(f"unsupported retriever {kind!r}")
    id_field = rspec.get("id_field")
    if not id_field:
        raise ValueError(
            "rrf retriever needs id_field (the hit-identity column)"
        )
    window = int(rspec.get("rank_window_size", 100))
    const = int(rspec.get("rank_constant", 60))
    children = rspec["retrievers"]
    if len(children) < 2:
        raise ValueError("rrf needs at least two child retrievers")
    from pyspark.sql import Window

    ranked = []
    for i, child in enumerate(children):
        if len(child) != 1:
            raise ValueError("each rrf child must have one retriever type")
        (ckind, cspec), = child.items()
        if ckind == "standard":
            sub = _standard_retriever_body(cspec)
            sub["size"] = window
            sub["_source"] = {"includes": [id_field]}
            top = run_search(df, sub)["_hits"]
            entries = cspec["sort"]
            if isinstance(entries, (str, dict)):
                entries = [entries]
            order = []
            for ent in entries:
                if isinstance(ent, str):
                    order.append(F.col(ent).asc())
                else:
                    (c, o), = ent.items()
                    desc = str(
                        o["order"] if isinstance(o, dict) else o
                    ).lower() == "desc"
                    order.append(F.col(c).desc() if desc else F.col(c).asc())
        elif ckind == "knn":
            top = _knn_scored(df, cspec, [id_field]).limit(
                int(cspec.get("k", window))
            )
            order = [F.col("_score_q").desc(), F.col(id_field).asc()]
        elif ckind == "script_score":
            top = _script_score_ranked(
                df, {**cspec, "id_field": id_field}, window
            )
            order = [F.col("_score_q").desc(), F.col(id_field).asc()]
        else:
            raise ValueError(f"unsupported rrf child retriever {ckind!r}")
        ranked.append(
            top.withColumn(
                f"rank_{i}",
                F.row_number().over(Window.orderBy(*order)).cast("long"),
            )
            .select(id_field, f"rank_{i}")
            # a non-unique id_field would cross-product through the
            # full-outer fusion joins; ES ranks each _id once — keep the
            # best rank per id (window-sized agg, one tiny job)
            .groupBy(id_field)
            .agg(F.min(f"rank_{i}").alias(f"rank_{i}"))
        )
    fused = ranked[0]
    for r in ranked[1:]:
        fused = fused.join(r, id_field, "full_outer")
    contrib = [
        F.coalesce(
            F.expr(f"1000000000000 div ({const} + rank_{i})"), F.lit(0)
        )
        for i in range(len(children))
    ]
    score = contrib[0]
    for c in contrib[1:]:
        score = score + c
    return (
        fused.withColumn("score_q", score.cast("long"))
        .orderBy(F.col("score_q").desc(), F.col(id_field).asc())
        .limit(size)
    )


def _mustache_parse(template: str) -> list:
    """Parse the mustache subset into an AST of ``("text", s)``,
    ``("var", name)``, and ``(kind, name, children)`` nodes
    (kind ∈ ``#``/``^``). Comments ``{{!..}}`` drop; partials ``{{>..}}``
    and unescaped ``{{&..}}``/triple-mustache raise (template-language
    features beyond parameter rendering — SCOPE §D)."""
    import re as _re

    # the split regex can never capture a brace-containing tag, so the
    # triple-mustache spelling of unescaped output must be caught up
    # front ({{&..}} is caught below; {"a": {{lo}}} -style JSON closers
    # have only TWO opening braces and do not match this)
    if _re.search(r"\{\{\{\s*[A-Za-z0-9_.]+\s*\}\}\}", template):
        raise ValueError(
            "search template: triple-mustache {{{..}}} (unescaped"
            " output) is out of scope, SCOPE §D — use {{param}}"
        )
    root: list = []
    stack = [root]
    open_names: list[str] = []
    for tok in _re.split(r"({{[^{}]*}})", template):
        if not tok:
            continue
        if not (tok.startswith("{{") and tok.endswith("}}")):
            stack[-1].append(("text", tok))
            continue
        inner = tok[2:-2].strip()
        if inner.startswith("!"):
            continue  # comment
        if inner.startswith((">", "&")):
            raise ValueError(
                "search template supports {{param}} substitution,"
                " {{#section}}/{{^inverted}} blocks, {{#toJson}} and"
                " {{#join}} — mustache partials/unescaped output are a"
                " template language (out of scope, SCOPE §D)"
            )
        if inner.startswith(("#", "^")):
            kind, name = inner[0], inner[1:].strip()
            node = (kind, name, [])
            stack[-1].append(node)
            stack.append(node[2])
            open_names.append(name)
            continue
        if inner.startswith("/"):
            name = inner[1:].strip()
            if not open_names or open_names[-1] != name:
                raise ValueError(
                    f"unbalanced mustache section close {{{{/{name}}}}}"
                )
            open_names.pop()
            stack.pop()
            continue
        if not _re.fullmatch(r"[A-Za-z0-9_.]+", inner):
            raise ValueError(f"bad mustache tag {tok!r}")
        stack[-1].append(("var", inner))
    if open_names:
        raise ValueError(
            f"unclosed mustache section {{{{#{open_names[-1]}}}}}"
        )
    return root


def render_search_template(template: str, params: dict) -> dict:
    """The ES ``_search/template`` API's render step (the mustache
    subset ES templates actually use): substitute ``{{name}}``
    placeholders into the JSON template TEXT, then parse — exactly ES's
    order of operations (mustache first, JSON second), so string params
    belong inside quotes in the template and numeric/bool/list params
    sit bare (lists/dicts/bools/None render as JSON).

    r14 graduations (previously loud raises):

    - conditional sections ``{{#p}}...{{/p}}`` — dropped when ``p`` is
      missing/false/empty (the ES conditional-clause idiom), rendered
      once for a truthy scalar (a dict pushes its keys into scope),
      iterated for a list (``{{.}}`` is the current item);
    - inverted ``{{^p}}...{{/p}}`` — the default-value idiom
      (``{{p}}{{^p}}10{{/p}}``), rendered only when ``p`` is falsy;
    - ``{{#toJson}}p{{/toJson}}`` — JSON-dump of any param;
    - ``{{#join}}p{{/join}}`` — comma-join of a list param (the ES
      default delimiter).

    Per the mustache spec (and ES), a missing ``{{name}}`` renders
    EMPTY — in a bare JSON position that still fails loudly at the
    parse step. Partials ``{{>..}}``/unescaped ``{{&..}}`` remain out
    (SCOPE §D). Returns the parsed body dict — feed to
    :func:`run_search`."""
    import json as _json

    def _lookup(name, scopes):
        if name == ".":
            return scopes[-1] if scopes else None
        head, _, rest = name.partition(".")
        for sc in reversed(scopes):
            if isinstance(sc, dict) and head in sc:
                v = sc[head]
                # mustache dotted paths traverse nested dicts
                while rest:
                    if not isinstance(v, dict):
                        return None
                    seg, _, rest = rest.partition(".")
                    v = v.get(seg)
                return v
        return None

    def _text(nodes) -> str:
        if len(nodes) != 1 or nodes[0][0] != "text":
            raise ValueError(
                "{{#toJson}}/{{#join}} take exactly one parameter name"
            )
        return nodes[0][1].strip()

    def _inline(v) -> str:
        if isinstance(v, str):
            # escaped, quotes come from the template
            return _json.dumps(v)[1:-1]
        if v is None:
            return ""
        return _json.dumps(v)

    def _render(nodes, scopes, out: list) -> None:
        for node in nodes:
            kind = node[0]
            if kind == "text":
                out.append(node[1])
            elif kind == "var":
                out.append(_inline(_lookup(node[1], scopes)))
            elif kind == "#":
                name, children = node[1], node[2]
                if name == "toJson":
                    out.append(_json.dumps(_lookup(_text(children), scopes)))
                    continue
                if name == "join":
                    v = _lookup(_text(children), scopes)
                    if not isinstance(v, (list, tuple)):
                        raise ValueError("{{#join}} needs a list param")
                    out.append(",".join(_inline(x) for x in v))
                    continue
                v = _lookup(name, scopes)
                if v is None or v is False or v == [] or v == "":
                    continue
                if isinstance(v, (list, tuple)):
                    for item in v:
                        _render(children, scopes + [item], out)
                else:
                    # dicts push their keys into scope; scalars push the
                    # value itself so {{.}} renders it (mustache spec)
                    _render(children, scopes + [v], out)
            else:  # "^" inverted
                v = _lookup(node[1], scopes)
                if v is None or v is False or v == [] or v == "":
                    _render(node[2], scopes, out)

    buf: list[str] = []
    _render(_mustache_parse(template), [dict(params)], buf)
    rendered = "".join(buf)
    try:
        return _json.loads(rendered)
    except ValueError as ex:
        raise ValueError(
            f"rendered template is not valid JSON: {ex}"
            f" (rendered text: {rendered[:200]!r})"
        ) from ex


def validate_query(body: dict) -> tuple[bool, str | None]:
    """The ES ``_validate/query`` API: compile the body's ``query``
    clause without executing; ``(True, None)`` or ``(False, reason)``.
    All three compilers are exercised (Catalyst + BOTH SQL-twin dialects)
    so a body that validates here runs on every engine path — Spark
    F.expr consumers and the DuckDB oracle alike (ADVICE r12 item 1)."""
    try:
        q = body.get("query", {"match_all": {}})
        compile_query(q)
        _compile_query_sql(q, dialect="spark")
        _compile_query_sql(q, dialect="duckdb")
        return True, None
    except (ValueError, KeyError, TypeError) as ex:
        return False, f"{type(ex).__name__}: {ex}"


def delete_by_query(df: DataFrame, body: dict) -> DataFrame:
    """The ES ``_delete_by_query`` API, relationally: the frame WITHOUT
    the matching docs (storage is immutable parquet — deletion is
    rewriting the complement, the same contract as Delta/Iceberg DELETE;
    the caller writes the result). The predicate is pushed to the scan.
    ES's must_not-style null semantics apply: a doc only deletes when the
    query MATCHES, so NULL-evaluating docs survive."""
    pred = compile_query(body["query"])
    # the complement must keep docs where pred is NULL (no match ≠ match)
    return df.where(~F.coalesce(pred, F.lit(False)))


def update_by_query(df: DataFrame, body: dict) -> DataFrame:
    """The ES ``_update_by_query`` API: apply the body's ``script`` (the
    engine's SQL-expression dialect: ``{"script": {"source": {col:
    expr}}}`` — a dict of column → SQL expr, the ctx._source field-set
    form) to every doc matching ``query`` (all docs when absent),
    leaving the rest untouched. One map-side projection — conditional
    per column, no join, no shuffle."""
    spec = body["script"]["source"]
    if not isinstance(spec, dict) or not spec:
        raise ValueError(
            "update_by_query script.source must be a non-empty"
            " {column: sql_expr} dict"
        )
    pred = (
        F.coalesce(compile_query(body["query"]), F.lit(False))
        if "query" in body
        else F.lit(True)
    )
    # materialize the match BEFORE any rewrite: a script that mutates a
    # queried column must not change membership for later script fields
    # (ES evaluates the query once against the original doc)
    out = df.withColumn("__matched", pred)
    for col, expr in spec.items():
        if col not in df.columns:
            raise ValueError(f"update_by_query target column {col!r} missing")
        out = out.withColumn(
            col, F.when(F.col("__matched"), F.expr(expr)).otherwise(F.col(col))
        )
    return out.drop("__matched")


def field_caps(df: DataFrame, fields: list | None = None) -> dict:
    """The ES ``_field_caps`` API: per-field capability metadata from the
    frame's schema (metadata-only — no job runs). ES types map from Spark
    types (long/integer/double/float/keyword for strings/boolean/date for
    timestamps/dense_vector for array<float>/nested for array<struct>);
    every relational column is both searchable and aggregatable."""
    import fnmatch

    def es_type(dt) -> str:
        s = dt.simpleString()
        if s in ("array<float>", "array<double>"):
            return "dense_vector"
        if s.startswith("array<struct"):
            return "nested"
        if s.startswith("array<"):
            # ES has no array type: a list of scalars is a MULTI-VALUED
            # field of the element type
            s = s[len("array<"):-1]
        if s in ("bigint", "long"):
            return "long"
        if s in ("int", "integer", "smallint", "tinyint"):
            return "integer"
        if s == "double":
            return "double"
        if s == "float":
            return "float"
        if s == "boolean":
            return "boolean"
        if s.startswith("timestamp") or s == "date":
            return "date"
        return "keyword"

    names = [f.name for f in df.schema]
    if fields:
        keep = [
            n for n in names
            if any(fnmatch.fnmatchcase(n, pat) for pat in fields)
        ]
    else:
        keep = names
    return {
        "fields": {
            f.name: {
                es_type(f.dataType): {
                    "type": es_type(f.dataType),
                    "searchable": True,
                    "aggregatable": True,
                }
            }
            for f in df.schema
            if f.name in keep
        }
    }
