"""Corpus-level curation operators: eval-set decontamination,
deterministic stratified sampling, and BM25 keyword retrieval.

Same design rules as the rest of ``db_spark.llm``: pure Column
expressions over the deterministic md5 hash family, candidate generation
always via inverted indexes (never all-pairs), no driver-side
materialization — every operator here keeps its 100 TB shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from db_spark.execution import spread_scan
from db_spark.functions import ascii_lower

from db_spark.llm.dedup import h32, shingle_table

_TWO32 = 1 << 32


# ---------------------------------------------------------------------------
# Eval-set decontamination (n-gram overlap against a held-out set)
# ---------------------------------------------------------------------------

def decontaminate(
    train: DataFrame, eval_df: DataFrame, n: int = 5,
    id_col: str = "doc_id", text_col: str = "text",
    min_shared: int = 1,
) -> DataFrame:
    """Flag training documents sharing >= ``min_shared`` distinct word
    n-grams with any document in the eval set — the standard benchmark-
    decontamination pass before training.

    Candidates come from an inverted-index join on the (distinct) eval
    n-gram set: cost is O(matching grams), never train x eval. The eval
    gram set is tiny vs the corpus — Spark broadcasts it — so
    decontaminating 100 TB is one scan + one broadcast-hash semi-join.
    No frequency guard: eval grams are the exact strings we must catch,
    however common. Returns (id, n_shared_grams) for contaminated docs
    only; anti-join ``train`` against it to clean."""
    t_grams = shingle_table(train, id_col, text_col, n, max_shingle_df=None)
    e_grams = (
        shingle_table(eval_df, id_col, text_col, n, max_shingle_df=None)
        .select("shingle").distinct()
    )
    return (
        t_grams.join(F.broadcast(e_grams), "shingle")
        .groupBy(F.col("_sid").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame, rates: dict[str, float], strata_col: str = "lang",
    id_col: str = "doc_id", default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum downsampling by stable content hash — the
    data-mixture step of a training pipeline (e.g. keep 50% of English,
    10% of everything else). hash(id) % 10^6 < rate * 10^6 is invariant
    under partitioning, re-runs, and engine, unlike ``df.sample`` whose
    RNG is partition-dependent; map-only, no shuffle."""
    # thresholds as exact parts-per-million ints: a float->int cast would
    # truncate in Spark but round in DuckDB, breaking oracle parity
    bucket = h32(F.col(id_col).cast("string")) % 1_000_000
    ppm = None
    for key, r in sorted(rates.items()):
        cond = F.col(strata_col) == key
        t = F.lit(int(r * 1_000_000))
        ppm = F.when(cond, t) if ppm is None else ppm.when(cond, t)
    default = F.lit(int(default_rate * 1_000_000))
    ppm = ppm.otherwise(default) if ppm is not None else default
    return df.filter(bucket < ppm)


# ---------------------------------------------------------------------------
# Corpus mixing: temperature resampling + per-domain caps
# ---------------------------------------------------------------------------

def temperature_sample(
    df: DataFrame, group_col: str = "source", tau: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Flatten the corpus mixture toward p_g ∝ count_g^tau (tau < 1
    upweights rare domains — the multilingual-sampling rule) by
    deterministic downsampling: acceptance rate a_g = (count_g)^(tau-1)
    normalized so the rarest group keeps everything. Rates become exact
    parts-per-million thresholds against the stable id hash, so the
    sample is invariant under partitioning, re-runs, and engine.

    One count aggregation (|groups| rows, broadcast back) + a map-only
    filter — two scans, no corpus shuffle, at any scale.

    For ``tau=0.5`` the rate is sqrt(c_min/c_g): IEEE-754 requires
    correctly-rounded divide and sqrt, so Spark and an oracle engine
    compute bit-identical thresholds. Other tau go through pow(), where
    the last ulp is implementation-defined — fine for training pipelines,
    but an exact-match oracle should pin tau=0.5."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cg"))
    w = Window.partitionBy()  # global agg over the tiny counts table
    if tau == 0.5:
        rate = F.sqrt(F.min("_cg").over(w).cast("double") / F.col("_cg"))
    else:
        num = F.pow(F.col("_cg").cast("double"), F.lit(tau - 1.0))
        rate = num / F.max(F.pow(F.col("_cg").cast("double"), F.lit(tau - 1.0))).over(w)
    ppm = counts.select(
        group_col, F.round(rate * 1_000_000).cast("long").alias("_ppm"))
    bucket = h32(F.col(id_col).cast("string")) % 1_000_000
    return (
        df.join(F.broadcast(ppm), group_col)
        .filter(bucket < F.col("_ppm"))
        .drop("_ppm")
    )


def cap_per_group(
    df: DataFrame, group_col: str = "source", n: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen by stable id hash (with
    id tiebreak) — the domain-cap rule that stops any single crawl host
    from dominating the mixture, reproducibly.

    One shuffle by group. A group with billions of rows lands on one
    reducer only for its top-n heap: rank windows with a cap push a
    per-partition limit before the final sort at the physical level; for
    pathological skew, pre-filter with an approximate per-group hash
    threshold before ranking (same trick as salting)."""
    hb = h32(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(hb, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def importance_sample(
    df: DataFrame, rate: Column, id_col: str = "doc_id",
) -> DataFrame:
    """Per-ROW deterministic downsampling: keep each row with its own
    probability ``rate`` (a Column — e.g. a quality score), decided by
    the stable id hash. The importance-weighting step of corpus mixing
    ("keep high-quality docs with p≈score"), reproducible across runs,
    partitionings, and engines — unlike ``df.sample`` — and exact:
    the rate becomes an integer parts-per-million threshold, so there
    is no float comparison at the acceptance boundary.

    Rates clamp into [0, 1]; NULL rates drop the row. Map-only — no
    shuffle, composes with the stratified (per-stratum constant) and
    temperature (per-group count-derived) samplers which special-case
    the rate column."""
    ppm = F.round(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), rate.cast("double")))
        * 1_000_000).cast("long")
    bucket = h32(F.col(id_col).cast("string")) % 1_000_000
    return df.filter(bucket < ppm)


def weighted_sample(
    df: DataFrame, weight: Column, k: int, id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly ``k`` rows:
    Efraimidis–Spirakis A-ES. Each row draws a key ``u^(1/w)`` from a
    uniform ``u``; the k largest keys are a weighted sample without
    replacement. Here ``u`` is the deterministic id-hash uniform
    ``(h32(id) + 0.5) / 2^32`` — reproducible across runs,
    partitionings, and engines, unlike RNG-based reservoirs whose
    result depends on partition layout.

    Ranking uses the monotone-equivalent ``ln(u)/w`` (one transcendental
    instead of pow's two), rounded to 6 decimals with id tie-break so a
    last-ulp libm difference between engines cannot flip the order.

    Scale shape: map-only key computation + global top-k
    (TakeOrderedAndProject — per-partition heaps, only k rows move to
    one reducer; never a full sort). NULL/non-positive weights drop.

    Returns the sampled rows plus ``sample_key`` (the rounded ranking
    key, descending = first sampled).
    """
    w = weight.cast("double")
    u = (h32(F.col(id_col).cast("string")) + F.lit(0.5)) / F.lit(float(_TWO32))
    # + 0.0 normalizes IEEE -0.0 (a tiny negative key rounds to zero;
    # engines disagree on the sign bit's rendering — wilson precedent)
    key = F.round(F.log(u) / w, 6) + F.lit(0.0)
    return (
        df.filter(w > 0)
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )


def token_budget_sample(
    df: DataFrame, budgets: dict[str, int], group_col: str = "source",
    id_col: str = "doc_id", text_col: str = "text",
    boundary_buckets: int = 256,
) -> DataFrame:
    """Deterministic token-budget mixture sampling: for each group,
    keep the hash-ordered greedy prefix of documents whose running
    token count stays under the group's budget (a document is kept iff
    the tokens *before* it are < budget, so the document that crosses
    the line is included and every budget > 0 yields at least one doc).
    This is the "fill each domain's token quota" step of assembling a
    training mixture — reproducible because the order is the stable id
    hash, not ingestion order. Groups absent from ``budgets`` drop.

    Scale shape: a naive per-group prefix sum funnels the whole group
    through one reducer's sort. Instead the hash space is cut into
    ``boundary_buckets`` range cells: per-cell token subtotals (a tiny
    |groups| x buckets aggregate) locate each group's boundary cell;
    cells wholly under budget keep every doc with no per-doc ordering
    at all, cells past it drop wholesale, and only the ONE boundary
    cell per group — ~1/buckets of the group — pays an exact per-doc
    cumulative window. Hash order refines cell order, so the selected
    set is exactly the naive prefix (the oracle computes the naive
    form). Returns (group, id, n_tokens) for the kept docs.
    """
    cell_width = _TWO32 // boundary_buckets
    # NULL text counts 0 tokens (coalesce): a NULL _nt would poison the
    # cell subtotals and silently drop the row from both keep and drop
    ntok = F.coalesce(
        F.size(F.regexp_extract_all(
            ascii_lower(F.col(text_col)), F.lit(r"[a-z']+"), 0)).cast("long"),
        F.lit(0).cast("long"))
    bud = None
    for key, n in sorted(budgets.items()):
        cond = F.col(group_col) == key
        t = F.lit(int(n)).cast("long")
        bud = F.when(cond, t) if bud is None else bud.when(cond, t)
    bud = bud.otherwise(F.lit(0)) if bud is not None else F.lit(0)
    base = (
        df.select(
            F.col(group_col).alias("_g"), F.col(id_col).alias("_id"),
            ntok.alias("_nt"), bud.alias("_bud"),
            h32(F.col(id_col).cast("string")).alias("_h"))
        .filter(F.col("_bud") > 0)
        .withColumn("_cell", F.expr(f"_h div {cell_width}"))
    )
    cells = (
        base.groupBy("_g", "_bud", "_cell")
        .agg(F.sum("_nt").alias("_ct"))
    )
    wb = Window.partitionBy("_g").orderBy("_cell")
    cells = cells.withColumn(
        "_pre", F.coalesce(
            F.sum("_ct").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long")))
    # cells is |groups| x buckets — broadcast it back onto the docs
    full = cells.filter(F.col("_pre") + F.col("_ct") <= F.col("_bud"))
    boundary = cells.filter(
        (F.col("_pre") < F.col("_bud"))
        & (F.col("_pre") + F.col("_ct") > F.col("_bud")))
    kept_full = base.join(
        F.broadcast(full.select("_g", "_cell")), ["_g", "_cell"],
        "left_semi")
    bdocs = base.join(
        F.broadcast(boundary.select("_g", "_cell", "_pre")),
        ["_g", "_cell"])
    wd = Window.partitionBy("_g").orderBy("_h", "_id")
    kept_boundary = (
        bdocs.withColumn(
            "_before",
            F.col("_pre") + F.coalesce(
                F.sum("_nt").over(
                    wd.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("long")))
        .filter(F.col("_before") < F.col("_bud"))
        .select("_g", "_id", "_nt", "_bud", "_h", "_cell")
    )
    return (
        kept_full.unionByName(kept_boundary)
        .select(F.col("_g").alias(group_col), F.col("_id").alias(id_col),
                F.col("_nt").alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# BM25 keyword retrieval
# ---------------------------------------------------------------------------

def bm25_topk(
    df: DataFrame, terms: list[str], k: int = 20,
    k1: float = 1.2, b: float = 0.75,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k documents for a bag-of-words query.

    Inverted-index shape: explode tokens, keep only query terms (a
    broadcast IN-filter pushed into the scan), aggregate tf per (doc,
    term), join per-term df stats (|terms| rows — broadcast), score, and
    take the global top-k with a rank window over the rounded score.
    Only rows containing a query term survive the first filter, so the
    shuffled data is the postings list for the query, not the corpus:
    at 100 TB this is scan + two small aggregations.

    idf = ln(1 + (N - df + .5)/(df + .5)) (Lucene form, always >= 0);
    norm = tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl)). Ranking uses
    round(score, 6) with doc-id tiebreak so top-k is deterministic.
    Returns (id, score, rank)."""
    from db_spark.llm.text import stage_expr

    toks = F.regexp_extract_all(ascii_lower(F.col(text_col)), F.lit(r"[a-z']+"), 0)
    # explode-barrier staging (text.stage_expr): the select boundary is
    # collapsed and the regex re-runs per downstream reference (9 copies
    # in the pre-r12 optimized plan — stats sum, postings size+explode).
    # spread_scan (r13): the stats + postings passes each re-run the
    # tokenize at single-file scan parallelism otherwise — gated no-op
    # at scale.
    base = stage_expr(spread_scan(df, id_col),
                      [F.col(id_col).alias("_did")], toks, "_toks")

    # corpus stats: N docs, avg doc length (exact rational -> double once)
    stats = base.agg(
        F.count(F.lit(1)).alias("_N"),
        F.sum(F.size("_toks")).alias("_len_total"),
    )

    # doc length rides along as a grouping key (functionally dependent on
    # _did) — no corpus-wide (doc, dl) join back onto the postings
    # postings are query-term-filtered (tiny vs corpus) and referenced
    # twice (df stats + scoring) — cache so the corpus is scanned twice
    # (stats pass + postings pass), not three times
    post = (
        base.select("_did", F.size("_toks").cast("long").alias("_dl"),
                    F.explode("_toks").alias("_tk"))
        .filter(F.col("_tk").isin(terms))
        .groupBy("_did", "_dl", "_tk")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .cache()
    )
    dfreq = post.groupBy("_tk").agg(F.countDistinct("_did").alias("_df"))

    avgdl = F.col("_len_total").cast("double") / F.col("_N")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_N") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    tf_norm = (F.col("_tf") * (k1 + 1)) / (
        F.col("_tf")
        + k1 * (1 - b + b * (F.col("_dl").cast("double") / avgdl))
    )
    # per-term contributions rounded to scaled long BEFORE the sum so the
    # score is independent of partial-aggregation order (exact_sum rule)
    scored = (
        post.join(F.broadcast(dfreq), "_tk")
        .crossJoin(F.broadcast(stats))
        .groupBy("_did")
        .agg(F.sum(F.round(idf * tf_norm * 1_000_000).cast("long")).alias("_s6"))
    )
    # distributed top-k (TakeOrderedAndProject: per-partition heads then
    # merge) — the rank window runs over the k survivors only, never the
    # full scored set
    topk = scored.orderBy(F.col("_s6").desc(), F.col("_did")).limit(k)
    w = Window.orderBy(F.col("_s6").desc(), F.col("_did"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select(F.col("_did").alias(id_col),
                (F.col("_s6") / 1_000_000).alias("score"),
                F.col("rank").cast("long").alias("rank"))
    )


def stratified_fixed_sample(
    df: DataFrame, sizes: dict[str, int], strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-size per-stratum sampling: take precisely ``sizes[g]`` rows
    from each stratum (fewer only if the stratum is smaller) — the
    eval-set builder, where "about 10%" is not acceptable but "exactly
    1000 English docs" is. Selection order is the stable id hash, so
    the sample is reproducible across runs, partitionings, and engines
    (unlike ``sampleBy``), and ADDING rows to a stratum never evicts a
    previously-selected row earlier in hash order.

    One stratum-keyed exchange with a per-group rank window. The sort
    is per-stratum and rank-limited; for a pathologically hot stratum
    at 100 TB, pre-filter with ``stratified_sample`` at a rate ~2x the
    target fraction (hash-prefix consistency makes the two-stage
    selection identical to the direct one when the first stage keeps a
    superset) and rank only the survivors. Strata absent from
    ``sizes`` drop. Returns the sampled rows plus ``sample_rank``
    (1-based position in hash order).
    """
    bucket = h32(F.col(id_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(bucket, F.col(id_col))
    cap = None
    for key, n in sorted(sizes.items()):
        cond = F.col(strata_col) == key
        t = F.lit(int(n)).cast("long")
        cap = F.when(cond, t) if cap is None else cap.when(cond, t)
    cap = cap.otherwise(F.lit(0)) if cap is not None else F.lit(0)
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= cap)
    )


def rrf_fuse(
    rankings: list[DataFrame], k: int = 60, id_col: str = "doc_id",
    rank_col: str = "rank", query_col: str | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion — THE standard hybrid-retrieval combiner
    (lexical BM25 + vector ANN, or any N rankers): ``score(d) =
    Σ_lists 1/(k + rank_d)``. Each term is rounded to nano-units and
    summed as BIGINT, so fusion is exact and order-independent no
    matter how many rankers or how the union partitions; final ranking
    breaks score ties on id. RRF needs only RANKS — no score
    calibration between rankers, which is why it wins in practice.

    Scale shape: the inputs are top-k lists (bounded by construction —
    the rankers own the corpus-scale work); fusion is one union + one
    hash agg + a rank window over Σk_i rows per query. Returns
    (*query, id, n_lists, rrf_score, fused_rank)."""
    keys = ([query_col] if query_col else []) + [id_col]
    scaled = [
        r.select(*keys,
                 F.round(F.lit(1_000_000_000.0)
                         / (F.lit(float(k)) + F.col(rank_col).cast("double")))
                 .cast("long").alias("_t"))
        for r in rankings]
    u = scaled[0]
    for s in scaled[1:]:
        u = u.unionByName(s)
    sc = u.groupBy(*keys).agg(
        F.sum("_t").alias("_s"),
        F.count(F.lit(1)).cast("long").alias("n_lists"))
    w = Window.partitionBy(*([query_col] if query_col else [])) \
        .orderBy(F.desc("_s"), id_col)
    out = sc.select(
        *keys, "n_lists",
        F.round(F.col("_s").cast("double") / 1e9, 6).alias("rrf_score"),
        F.row_number().over(w).cast("long").alias("fused_rank"))
    if top_k is not None:
        out = out.filter(F.col("fused_rank") <= top_k)
    return out


def poisson_cdf_u32(rate: float, max_k: int = 8) -> list[int]:
    """Cumulative Poisson(rate) probabilities scaled to 2^32 — the
    thresholds ``bootstrap_counts`` compares the raw 32-bit id-hash
    against.  Expressing the CDF in 2^32 units (instead of mapping the
    hash to ppb with ``% 1e9``, whose 2^32 mod 1e9 remainder overweights
    low residues by 25%) makes the uniform exactly unbiased; shared
    verbatim by the engine and the SQL oracle."""
    import math

    cdf, pk, acc = [], math.exp(-rate), 0.0
    for k in range(max_k):
        acc += pk
        cdf.append(int(round(acc * 4_294_967_296.0)))
        pk = pk * rate / (k + 1)
    return cdf


def bootstrap_counts(
    df: DataFrame, rate: float = 1.0, id_col: str = "doc_id",
    salt: str = "boot", max_k: int = 8,
) -> DataFrame:
    """Deterministic Poisson bootstrap — sampling WITH replacement for
    epoch resampling at corpus scale: each row's replication count is
    the inverse Poisson(rate) CDF applied to its stable salted id-hash
    uniform. RNG-free and partition-invariant (the same row draws the
    same count on any engine, any run — `df.sample(withReplacement=
    True)` seeds are partition-dependent and do not), map-only, and
    the count distribution is exactly the independent-draws limit the
    classic bootstrap approximates at large n. Counts truncate at
    ``max_k`` (P(X > 8) < 1e-6 at rate 1 — documented tail cut).
    The raw 32-bit hash is compared against CDF thresholds expressed
    in 2^32 units (``poisson_cdf_u32``) — no ``% 1e9`` remap, which
    would overweight residues below 2^32 mod 1e9 by 25% and depress
    every replication probability by ~7%. Returns (id, n_copies) for
    rows drawn at least once; downstream repeats rows with
    explode(sequence(1, n_copies)) when materialization is needed."""
    from db_spark.llm.dedup import h32

    cdf = poisson_cdf_u32(rate, max_k)
    u = h32(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    count = None
    for t in cdf:
        ind = (u >= t).cast("int")
        count = ind if count is None else count + ind
    return (df.select(F.col(id_col), count.cast("long").alias("n_copies"))
            .filter(F.col("n_copies") > 0))


# ---------------------------------------------------------------------------
# Leakage-safe splitting and deterministic global shuffle
# ---------------------------------------------------------------------------

def leakage_safe_split(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id",
    train_ppm: int = 800_000, val_ppm: int = 100_000,
    salt: str = "split",
) -> DataFrame:
    """Near-dup-aware train/val/test split: every member of a near-dup
    cluster lands in the SAME split, so evaluation can never score a
    near-copy of a training document (the contamination a plain
    per-document hash split silently allows — `deterministic_split`'s
    known failure mode on a deduplicated-but-clustered corpus).

    ``clusters`` carries (id, cluster_id) — the output of
    ``dedup.connected_components`` over any near-dup pair generator.
    Its id column may be named either ``id_col`` or the
    connected-components default ``doc_id``; both are accepted (the
    column is renamed to ``id_col`` for the join). Documents without a
    cluster row (singletons) split on their own id.
    The split decision hashes the GROUP id, so the whole cluster moves
    together and the assignment is invariant under repartitioning,
    re-runs, and engines. Thresholds are exact integer ppm on the
    32-bit id-hash uniform: u < train_ppm -> train,
    u < train_ppm + val_ppm -> val, else test.

    100 TB shape: ``clusters`` is bounded by the near-dup PAIR node
    set (far smaller than the corpus — AQE broadcasts it when small),
    so the cost is one left equi-join plus a map-only hash decision.
    The expensive part is the pair generation, which the LSH tier
    already bounds (block-then-verify, never all-pairs).
    """
    from db_spark.llm.dedup import h32

    cluster_id_col = id_col if id_col in clusters.columns else "doc_id"
    grp = clusters.select(
        F.col(cluster_id_col).alias(id_col), F.col("cluster_id"))
    joined = df.select(id_col).join(grp, id_col, "left").withColumn(
        "group_id",
        F.coalesce(F.col("cluster_id"), F.col(id_col)).cast("long"))
    u = h32(F.concat(F.lit(salt + ":"),
                     F.col("group_id").cast("string"))) % 1_000_000
    split = (
        F.when(u < train_ppm, F.lit("train"))
        .when(u < train_ppm + val_ppm, F.lit("val"))
        .otherwise(F.lit("test")))
    return joined.select(id_col, "group_id", split.alias("split"))


def global_shuffle_shards(
    df: DataFrame, n_shards: int = 1024, id_col: str = "doc_id",
    salt: str = "shuffle", with_position: bool = True,
) -> DataFrame:
    """Deterministic global shuffle of a corpus into ``n_shards``
    training shards — the export step before sequential training reads.
    Shard assignment and within-shard order both derive from the stable
    salted id hash, so the shuffle is bit-reproducible across runs,
    partitionings, and engines (a `df.orderBy(rand())` shuffle is
    neither reproducible nor resumable; seeded `rand()` is
    partition-dependent).

    Returns (id, shard, pos): ``shard = h32(salt:id) % n_shards`` and
    ``pos`` the 1-based rank of the hash within its shard (ties broken
    by id — a total order). Changing the salt is a fresh epoch-level
    reshuffle; changing ``n_shards`` only re-buckets, it never
    re-orders the underlying hash sequence.

    100 TB shape: one exchange on ``shard`` plus a per-shard sort —
    with n_shards sized so a shard fits a task (corpus_bytes /
    n_shards ~ hundreds of MB), the sort is per-reducer-local and the
    plan is exactly the write pattern
    ``repartition(n_shards, shard).sortWithinPartitions(key)``. Set
    ``with_position=False`` on the pure write path to skip the rank
    column (same exchange + sort, no window function needed).
    """
    from db_spark.llm.dedup import h32

    key = h32(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    out = df.select(id_col).withColumn("_key", key).withColumn(
        "shard", (F.col("_key") % n_shards).cast("long"))
    if not with_position:
        return (out.repartition(n_shards, "shard")
                .sortWithinPartitions("_key", id_col)
                .select(id_col, "shard"))
    w = Window.partitionBy("shard").orderBy("_key", id_col)
    return out.select(
        id_col, "shard",
        F.row_number().over(w).cast("long").alias("pos"))
