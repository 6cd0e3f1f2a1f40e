"""Corpus curation operators: deterministic splits and the end-to-end
quality filter (SURVEY.md §2C — the stages between raw ingest and
training shards).

Both are single-scan projections/filters — embarrassingly parallel,
no shuffle except the presentation sort — and fully oracle-checkable:
the split uses content-addressed md5 bucketing (identical hex in every
engine), the filter pure integer/double arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 4-hex-digit threshold: docs whose md5(doc_id) prefix sorts below
#: this go to train — 0xcccd / 0x10000 = 80.0% expected.
TRAIN_THRESHOLD_HEX = "cccd"


def train_eval_split(t: dict[str, DataFrame]) -> DataFrame:
    """Hash-based train/eval assignment per document.

    The reproducibility-critical split operator: assignment is a pure
    function of the KEY (md5 of doc_id, first 4 hex digits compared
    against a constant), so it is stable across engines, partitionings,
    reruns, and incremental arrivals — new documents join a side
    without reshuffling old ones. Seeded-RNG splits (``randomSplit``)
    guarantee none of that: their assignment depends on partition
    layout. ~80% train by hash-prefix threshold (0xcccd/0x10000).

    At 100 TB: one projection, no shuffle, no state; the same
    expression works as a filter pushed into any downstream read.
    """
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = F.when(h4 < F.lit(TRAIN_THRESHOLD_HEX), "train").otherwise("eval")
    return (
        t["documents"]
        .select(
            "doc_id",
            h4.alias("hash_prefix"),
            split.alias("split"),
        )
        .orderBy("doc_id")
    )


def stratified_sample(
    t: dict[str, DataFrame],
    rates: dict[str, float] | None = None,
    default_rate: float = 0.75,
) -> DataFrame:
    """Deterministic per-stratum downsampling by (lang) — the corpus
    rebalancing step (e.g. cap the dominant language, keep the rest).

    Same content-addressed mechanism as :func:`train_eval_split`: a doc
    is kept iff the first 4 hex digits of md5(doc_id) sort below the
    stratum's threshold (floor(rate * 0x10000)), so membership is a
    pure function of the key — stable across engines, partitionings,
    reruns and incremental arrivals, and any two rates are NESTED
    (the 50% sample is a subset of the 75% sample), which seeded-RNG
    `sample()` cannot guarantee.

    At 100 TB: one projection + filter, no shuffle, pushes down.
    """
    rates = rates if rates is not None else {"en": 0.5}
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.lit(f"{int(default_rate * 0x10000):04x}")
    for lang, rate in sorted(rates.items()):
        thresh = F.when(
            F.col("lang") == lang, F.lit(f"{int(rate * 0x10000):04x}")
        ).otherwise(thresh)
    return (
        t["documents"]
        .filter(h4 < thresh)
        .select("doc_id", "lang", "source", h4.alias("hash_prefix"))
        .orderBy("doc_id")
    )


#: Documents per prefix-sum bucket in :func:`pack_sequences`. Bounds the
#: per-task window size; the bucket-total cumsum row count is
#: n_docs / this.
PACK_BUCKET = 1024


def pack_sequences(
    t: dict[str, DataFrame], ctx: int = 512, bucket: int = PACK_BUCKET
) -> DataFrame:
    """Concat-then-chunk sequence packing: lay every document's tokens
    end-to-end in doc_id order and cut the stream every ``ctx`` tokens;
    report each doc's span in chunk coordinates.

    This is the standard pretraining packing layout (no padding waste;
    docs may straddle chunk boundaries). Output per doc: token count,
    global start offset, first/last chunk index, chunks spanned —
    everything a shard writer needs to route the doc's tokens.

    The global running sum is NOT computed with one unbounded window
    (single-task at scale). Distributed two-level prefix sum instead:
    docs bucket by ``doc_id div PACK_BUCKET``; a within-bucket window
    cumsum runs partitioned (bounded work per task), bucket totals —
    n_docs/1024 slim rows — get the unbounded-window cumsum, and the
    bucket offset joins back on the bucket key. Same shape a
    1000-executor scan uses for zipWithIndex. All integer arithmetic ->
    bit-exact against the oracle's plain window cumsum.
    """
    from pyspark.sql import Window

    docs = t["documents"].select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.expr(f"doc_id div {bucket}").alias("bucket"),
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    docs = docs.withColumn("local_end", F.sum("n_tokens").over(w_local))
    totals = docs.groupBy("bucket").agg(F.max("local_end").alias("bucket_total"))
    w_buckets = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("bucket_total").over(w_buckets), F.lit(0)).alias(
            "bucket_offset"
        ),
    )
    # Integer `div`, not double `/` + cast: at corpus scale the token
    # offset approaches 2^50+ and double division can round up across
    # a chunk boundary before the cast truncates.
    start = F.col("bucket_offset") + F.col("local_end") - F.col("n_tokens")
    first_chunk = F.expr(
        f"(bucket_offset + local_end - n_tokens) div {ctx}"
    ).cast("bigint")
    last_chunk = F.expr(
        f"(bucket_offset + local_end - 1) div {ctx}"
    ).cast("bigint")
    return (
        docs.join(offsets, "bucket")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_offset"),
            first_chunk.alias("first_chunk"),
            last_chunk.alias("last_chunk"),
            (last_chunk - first_chunk + 1).cast("bigint").alias("n_chunks"),
        )
        .orderBy("doc_id")
    )


#: Shingle width for eval-set decontamination. 13 matches the published
#: pretraining practice (a 13-gram collision between a train doc and any
#: eval doc marks the train doc contaminated).
DECONTAM_NGRAM = 13


def _gram_expr(n: int) -> str:
    """The ONE n-gram-hash derivation shared by decontaminate_train and
    curate_corpus_pipeline — two definitions could silently drift (the
    _cms_bucket / _DUP_SPAN_CTES rule). Expects a ``ws`` column."""
    return (
        f"transform(sequence(1, greatest(size(ws) - {n - 1}, 1)),"
        f" i -> xxhash64(array_join(slice(ws, i, {n}), ' ')))"
    )


def decontaminate_train(
    t: dict[str, DataFrame], n: int = DECONTAM_NGRAM
) -> DataFrame:
    """Remove from the train split every document sharing an n-token
    shingle with any eval document (eval-set leakage scrub).

    Train/eval membership reuses :func:`train_eval_split`'s
    content-addressed rule, so the op composes with the split without a
    join. Shingles are hashed to int64 (xxhash64 of the joined string)
    before the shuffle: the contamination join moves 8-byte keys, not
    13-word strings. Measured alternative, rejected: hashing each word
    once and Karp-Rabin-folding the 13 word-hashes per shingle
    (avoiding the string build) ran ~2x SLOWER at sf0.1 — 13
    interpreted lambda steps per shingle lose to one native
    array_join + one native xxhash64. The oracle intersects raw
    shingle strings — identical verdicts up to a ~2^-64 hash
    collision, the same accepted risk as the jaccard family
    (dedup.py).

    At 100 TB: eval is the small side by construction (~20%); its
    distinct shingle set shuffles (or broadcasts, AQE's call) into a
    semi-join against the exploded train shingles, then one anti-join
    on doc_id. No all-pairs anywhere.

    Staging (measured 2.5 s -> 1.1 s warm at sf0.1/local[32], same
    rows): the shingle tokenize/hash stage fans out over ALL cores and
    lands behind one doc_id exchange, so the eval and train branches
    read the SAME materialized shingles (ReusedExchange) instead of
    each re-tokenizing the corpus — the dup_spans restaging pattern.
    """
    cores = t["documents"].sparkSession.sparkContext.defaultParallelism
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    docs = t["documents"].withColumn("h4", h4)
    ws = F.split("text", " ")
    shingled = (
        docs.repartition(max(cores, 2), "doc_id")
        .withColumn("ws", ws)
        .select("doc_id", "h4", F.explode(F.expr(_gram_expr(n))).alias("g"))
        .repartition(max(cores, 2), "doc_id")
    )
    eval_grams = (
        shingled.filter(F.col("h4") >= TRAIN_THRESHOLD_HEX)
        .select("g")
        .distinct()
    )
    contaminated = (
        shingled.filter(F.col("h4") < TRAIN_THRESHOLD_HEX)
        .select("doc_id", "g")
        .join(eval_grams, "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.filter(F.col("h4") < TRAIN_THRESHOLD_HEX)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def _quality_metrics():
    """(n_tokens, ttr, mean_word_len, keep) — the ONE definition of the
    quality gate, shared by corpus_quality_filter and
    curate_corpus_pipeline so the composed pipeline cannot drift from
    its stage operator."""
    toks = F.split("text", " ")
    n_toks = F.size(toks)
    n_chars = F.length("text")
    n_distinct = F.size(F.array_distinct(toks))
    ttr = n_distinct.cast("double") / n_toks.cast("double")
    mean_word_len = (n_chars - n_toks + 1).cast("double") / n_toks.cast(
        "double"
    )
    keep = (
        (n_chars >= 50)
        & (n_chars <= 10_000)
        & (n_toks >= 10)
        & (ttr >= 0.3)
        & (mean_word_len >= 3.0)
        & (mean_word_len <= 10.0)
    )
    return n_toks, ttr, mean_word_len, keep


def corpus_quality_filter(t: dict[str, DataFrame]) -> DataFrame:
    """The composed curation gate: length bounds + lexical-diversity
    floor + mean-word-length band, applied in one pass; survivors come
    out with their metrics (the rows a training shard would keep).

    Composition of the individual text metrics (operators/text.py) into
    the actual filter stage — demonstrates that the metric queries are
    not demos but operators a pipeline chains. All integer/double
    arithmetic on counts -> bit-identical across engines.
    """
    docs = t["documents"]
    n_toks, ttr, mean_word_len, keep = _quality_metrics()
    return (
        docs.filter(keep)
        .select(
            "doc_id",
            "lang",
            "source",
            n_toks.alias("n_tokens"),
            F.round(ttr, 9).alias("ttr"),
            F.round(mean_word_len, 9).alias("mean_word_len"),
        )
        .orderBy("doc_id")
    )


def quality_weighted_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Continuous importance resampling: keep each document with
    probability equal to its quality weight (here lexical diversity,
    TTR), decided content-addressedly — the deterministic form of the
    quality-weighted resampling step (DSIR-shaped) that upsamples
    high-quality strata without an RNG.

    keep iff md5(doc_id)[0:4] < hex(min(floor(ttr * 0x10000), 0xffff))
    — the same hash-prefix mechanism as :func:`train_eval_split`, but
    the threshold varies per row with the weight. Both engines format
    the threshold with %04x and compare 4-char hex strings, so the
    decision is bit-identical (the 0xffff cap costs 1/65536 of mass at
    weight 1.0 and keeps the comparison single-width).

    At 100 TB: one scan, no shuffle, no state; composes with the
    split/dedup stages as a pushed-down filter.
    """
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast(
        "double"
    )
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.format_string(
        "%04x", F.least(F.floor(ttr * 65536), F.lit(65535)).cast("int")
    )
    return (
        t["documents"]
        .withColumn("ttr", F.round(ttr, 9))
        .withColumn("h4", h4)
        .withColumn("thresh", thresh)
        .filter(F.col("h4") < F.col("thresh"))
        .select("doc_id", "lang", "source", "ttr")
        .orderBy("doc_id")
    )


def chunk_documents(
    t: dict[str, DataFrame], window: int = 24, stride: int = 16
) -> DataFrame:
    """Overlapping token-window chunking (the RAG / context-window
    ingestion shape): cut each document's token stream into chunks of
    ``window`` tokens starting every ``stride`` tokens, final partial
    chunk included.

    One generate-starts + explode per document — chunk_index is the
    explode position, so no window function and no shuffle anywhere
    (the registered query's presentation sort aside). Chunks are
    reconstructed with one native ``slice``+``array_join`` per chunk;
    all computation stays in whole-stage codegen.

    At 100 TB: linear in total tokens with an output amplification of
    ~window/stride; embarrassingly parallel, so the scan partitioning
    is the parallelism. Straddling context windows across document
    boundaries instead is :func:`pack_sequences`.
    """
    if stride > window:
        raise ValueError(
            f"stride {stride} > window {window} would skip tokens entirely"
        )
    docs = t["documents"]
    # Starts advance by `stride` until a window reaches the last token:
    # last start = 1 + stride*ceil((n-window)/stride), which can sit
    # past n-window+1 (a shorter final chunk) but never strands a tail
    # token — `sequence(1, n-window+1, stride)` alone loses up to
    # stride-1 trailing tokens whenever stride ∤ (n-window).
    last_start = (
        f"1 + ((greatest(size(ws) - {window}, 0) + {stride} - 1)"
        f" div {stride}) * {stride}"
    )
    starts = F.expr(f"sequence(1, {last_start}, {stride})")
    return (
        docs.withColumn("ws", F.split("text", " "))
        .select("doc_id", "ws", F.posexplode(starts).alias("chunk_index", "s"))
        .select(
            "doc_id",
            F.col("chunk_index").cast("int").alias("chunk_index"),
            F.expr(f"array_join(slice(ws, s, {window}), ' ')").alias(
                "chunk_text"
            ),
            F.expr(f"least({window}, size(ws) - s + 1)")
            .cast("int")
            .alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_index")
    )


def mixture_weights(
    t: dict[str, DataFrame], alpha: float = 0.5, budget: int = 1_000_000
) -> DataFrame:
    """Temperature-scaled domain-mixture weights: the sampling
    distribution over sources used to compose a training mix,
    ``w_s ∝ n_tokens(s)^alpha`` (alpha < 1 flattens the natural
    distribution, upweighting small domains — the multilingual/
    domain-balancing recipe), plus each source's expected document
    draw count for a given sample ``budget``.

    alpha is fixed at 0.5 so the power is ``sqrt`` — correctly-rounded
    IEEE in every engine, keeping the weights bit-comparable before
    the defensive ROUND. Two tiny aggregates (one per-source, one
    1-row total joined back as a broadcast literal) — at 100 TB the
    shuffle is #sources rows.
    """
    if alpha != 0.5:
        raise ValueError(
            f"alpha is pinned to 0.5 (sqrt) for oracle exactness; got {alpha}"
        )
    per_src = (
        t["documents"]
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        )
        .withColumn("w", F.sqrt(F.col("n_tokens").cast("double")))
    )
    total = per_src.agg(F.sum("w").alias("w_total"))
    share = F.col("w") / F.col("w_total")
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(share, 9).alias("weight"),
            F.round(share * budget, 0).cast("bigint").alias("expected_docs"),
        )
        .orderBy("source")
    )


def next_event_examples(
    t: dict[str, DataFrame], context_len: int = 3
) -> DataFrame:
    """Supervised training-example construction from the event stream:
    for every event with at least ``context_len`` predecessors in its
    user's timeline, emit (context of the last ``context_len`` event
    types, label = this event's type) — the behavior-sequence dataset
    build (next-action prediction) in one declarative pass.

    One shuffle on ``user_id``; the lag window evaluates streamingly
    within each user partition (per-user state is ``context_len``
    rows, not the timeline). The context is emitted as a
    space-joined string — model-input-shaped, and hashable by the
    driver canonicalizer (registry no-array rule). Deterministic
    ordering: (ts, event_id) is a total order per user.

    NULL event types are dropped up front: ``concat_ws`` skips NULLs,
    so a NULL inside the window would silently emit a SHORTENED
    context still labeled as a full ``context_len`` example (and
    diverge from the oracle, whose ``||`` concatenation nulls out) —
    malformed rows must not become malformed training examples.
    """
    from pyspark.sql import Window

    ev = t["events"].filter(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [
        F.lag("event_type", i).over(w) for i in range(context_len, 0, -1)
    ]
    return (
        ev.select(
            "user_id",
            "event_id",
            F.concat_ws(" ", *lags).alias("context"),
            F.col("event_type").alias("label"),
            *[lags[0].alias("_oldest")],
        )
        .filter(F.col("_oldest").isNotNull())
        .drop("_oldest")
        .orderBy("user_id", "event_id")
    )


def shard_for_training(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic global shuffle + sharding — the last step before
    a corpus becomes training shards. Every document gets a
    content-addressed (shard, shard_pos): shard = first md5 nibble of
    the key, position = rank of the full md5 digest within the shard.

    Why not ``orderBy(rand())`` + ``repartition``: a seeded-RNG
    shuffle depends on partition layout and is unreproducible across
    engines, reruns and incremental arrivals. The md5 order is a
    fixed, uniformly-mixing permutation of the corpus: the same CORPUS
    yields the same (shard, shard_pos) on any engine and any rerun
    (exact DuckDB oracle). Under appends, a document's SHARD and its
    position RELATIVE to other survivors are stable, but shard_pos is
    a dense rank — an appended doc hashing earlier in the shard shifts
    later absolute positions by one, so (shard, shard_pos) is a stable
    address only for a fixed corpus snapshot; resumable pipelines
    should key on doc_id (train_eval_split's membership property is
    the append-stable one).

    Scale shape: one shuffle on the shard key; the within-shard rank
    is a window per shard partition (each task ranks only its shard).
    The shard count is fixed at 16 by the single-nibble key (no
    parameter — a knob this function ignored would mis-shard
    silently); production widens to more nibbles for more shards with
    an identical plan shape.
    """
    docs = t["documents"]
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    # the digest is computed ONCE; shard derives from its first nibble
    # (two definitions of the hash could silently drift apart — the
    # exact failure the content-addressed design exists to prevent)
    return (
        docs.select(
            "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
        )
        .withColumn(
            "shard",
            (
                F.expr("instr('0123456789abcdef', substring(h, 1, 1))") - 1
            ).cast("int"),
        )
        .withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "shard_pos")
        .orderBy("shard", "shard_pos")
    )


def source_capped_sample(t: dict[str, DataFrame], cap: int = 15) -> DataFrame:
    """Per-source document cap — the domain-balance rule web-corpus
    pipelines apply (keep at most N pages per domain) so one
    crawl-heavy source cannot dominate a training shard.

    Which documents survive is content-addressed, not random: rank
    within source by md5(doc_id) (seedless, engine-identical — the
    same device train_eval_split uses), keep the first ``cap``. A
    re-run, a retry, or a different engine keeps the SAME documents.
    One window shuffle keyed on source; a hot source concentrates its
    rows in one partition, but emits at most ``cap`` rows — bounded
    output regardless of skew, and AQE splits the oversized partition's
    sort. At 100 TB with few giant domains, pre-filtering each source
    to its approximate top-cap by hash range before the exact window
    would cut the sort; not needed at any tested scale.
    """
    from pyspark.sql import Window

    docs = t["documents"]
    pr = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(pr.asc(), F.col("doc_id"))
    return (
        docs.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= cap)
        .select(
            "doc_id",
            "source",
            F.col("rank_in_source").cast("int").alias("rank_in_source"),
        )
        .orderBy("doc_id")
    )


def curate_corpus_pipeline(
    t: dict[str, DataFrame], n: int = DECONTAM_NGRAM
) -> DataFrame:
    """THE end-to-end curation pipeline as ONE declarative plan:
    exact dedup (keep-first) -> quality gate -> eval-decontamination
    -> deterministic shard assignment. What a user of this engine
    actually runs nightly; the individual registry entries are its
    stages, and this composition proves they chain (one oracle checks
    the WHOLE pipeline, so stage-boundary bugs — filters applied in
    the wrong order, ranks computed over the wrong survivor set —
    cannot hide between green per-stage checks).

    Stage order is the 100 TB cost order: the 16-byte digest dedup
    and the single-pass quality arithmetic run FIRST so the expensive
    stage — the 13-gram explode — touches only surviving train docs
    (plus the eval slice it screens against, which is built from the
    FULL corpus: an eval document that failed quality still
    contaminates). Shard/position are content-addressed over the
    FINAL survivor set (a dense rank per shard — positions are a
    property of the corpus snapshot, see ``shard_for_training``).
    """
    from pyspark.sql import Window

    docs = t["documents"]
    # 1: exact dedup, keeper = min doc_id per content digest
    w_keep = Window.partitionBy("digest").orderBy("doc_id")
    d1 = (
        docs.withColumn("digest", F.md5("text"))
        .withColumn("_rn", F.row_number().over(w_keep))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "digest")
    )
    # 2: quality gate — _quality_metrics() is the SAME definition
    # corpus_quality_filter applies (shared so the composed pipeline
    # cannot drift from its stage operator)
    n_toks, _ttr, _mwl, keep = _quality_metrics()
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    d2 = (
        d1.filter(keep)
        .withColumn("n_tokens", n_toks)
        .withColumn("h4", h4)
    )
    train = d2.filter(F.col("h4") < TRAIN_THRESHOLD_HEX)
    # 3: decontamination — train survivors screened against the eval
    # slice of the FULL corpus, with the gram derivation shared
    # (_gram_expr) AND staged once: the union of (eval slice ∪
    # surviving train) tokenizes/hashes in ONE pass behind one doc_id
    # exchange, and both branches read that materialized exchange
    # (decontaminate_train's measured restaging pattern) instead of
    # each shingling its side separately.
    cores = docs.sparkSession.sparkContext.defaultParallelism
    to_shingle = (
        docs.withColumn("h4", h4)
        .filter(F.col("h4") >= TRAIN_THRESHOLD_HEX)
        .select("doc_id", "text", F.lit(True).alias("is_eval"))
        .unionByName(
            train.select("doc_id", "text", F.lit(False).alias("is_eval"))
        )
    )
    shingled = (
        to_shingle.repartition(max(cores, 2), "doc_id")
        .withColumn("ws", F.split("text", " "))
        .select(
            "doc_id", "is_eval", F.explode(F.expr(_gram_expr(n))).alias("g")
        )
        .repartition(max(cores, 2), "doc_id")
    )
    eval_grams = shingled.filter("is_eval").select("g").distinct()
    contaminated = (
        shingled.filter(~F.col("is_eval"))
        .select("doc_id", "g")
        .join(eval_grams, "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    surv = train.join(contaminated, "doc_id", "left_anti")
    # 4: content-addressed shard + position over the FINAL survivors
    w_shard = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        surv.select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
        .withColumn(
            "shard",
            (
                F.expr("instr('0123456789abcdef', substring(h, 1, 1))") - 1
            ).cast("int"),
        )
        .withColumn("shard_pos", F.row_number().over(w_shard).cast("long"))
        .select("doc_id", "lang", "source", "n_tokens", "shard", "shard_pos")
        .orderBy("shard", "shard_pos")
    )


def balance_classes(t: dict[str, DataFrame]) -> DataFrame:
    """Class-balanced downsample: cap every label at the MINORITY
    class's size, picking survivors content-addressed (md5 of the id,
    then id) — the class-imbalance fix before training a classifier,
    with the same determinism contract as the other samplers (same
    corpus -> same picks on any engine, any partitioning, any rerun;
    no seeded RNG).

    Scale shape: one per-label count aggregate (label-cardinality
    rows) -> 1-row global min -> broadcast back; survivor choice is a
    rank window per label partition. The md5 order is a fixed uniform
    permutation within each class, so the kept subset is an unbiased
    sample of the class.
    """
    from pyspark.sql import Window

    emb = t["embeddings"]
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    mn = counts.agg(F.min("n").alias("mn"))
    w = Window.partitionBy("label").orderBy("h", "vec_id")
    ranked = (
        emb.select(
            "vec_id",
            "label",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .withColumn("pick_order", F.row_number().over(w).cast("long"))
    )
    return (
        ranked.crossJoin(F.broadcast(mn))
        .filter(F.col("pick_order") <= F.col("mn"))
        .select("vec_id", "label", "pick_order")
        .orderBy("label", "pick_order")
    )


#: hashing-trick dimensionality and per-document top-k kept.
FEATURE_HASH_BUCKETS = 256
FEATURE_HASH_TOPK = 8


def feature_hash_vectors(
    t: dict[str, DataFrame],
    n_buckets: int = FEATURE_HASH_BUCKETS,
    topk: int = FEATURE_HASH_TOPK,
) -> DataFrame:
    """The hashing trick (feature hashing) over document tokens: each
    token maps to bucket md5(token)[:8 hex] mod ``n_buckets`` — the
    fixed-width, vocabulary-free featurization linear models and
    online learners train on when a fitted vocabulary is impossible
    (streaming ingest) or too large (open web text). Emitted long
    form, trimmed to each document's ``topk`` heaviest buckets — the
    sparse-vector head that dominates a linear score.

    Cross-engine-exact hashing: md5 is byte-identical in both engines
    and the 8-hex-digit prefix parses to the same int64 (Spark
    ``conv(_, 16, 10)`` returns a STRING — the explicit BIGINT cast
    is load-bearing; DuckDB parses '0x'-prefixed hex natively).
    Ranking (count DESC, bucket ASC) is total per document, so the
    row_number cut is deterministic.

    Plan: one pruned scan -> explode -> (doc, bucket) count -> one
    doc-keyed window over the doc's <= n_buckets distinct buckets
    (document-bounded, never corpus-bounded). No joins at all.

    Output: (doc_id, rank, bucket, tok_count).
    """
    from pyspark.sql import Window

    docs = t["documents"]
    counts = (
        docs.select(
            "doc_id",
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .select(
            "doc_id",
            F.expr(
                f"CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT)"
                f" % {n_buckets}"
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tok_count"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tok_count"), F.asc("bucket")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "bucket",
            "tok_count",
        )
        .orderBy("doc_id", "rank")
    )


def feature_hash_oracle_sql(
    n_buckets: int = FEATURE_HASH_BUCKETS,
    topk: int = FEATURE_HASH_TOPK,
) -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
          FROM documents),
        counts AS (
          SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, 8))::BIGINT
                     % {n_buckets} AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS tok_count
          FROM toks GROUP BY 1, 2),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tok_count DESC, bucket)
                        AS rank
          FROM counts)
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, bucket, tok_count
        FROM ranked WHERE rank <= {topk}
        ORDER BY doc_id, rank
        """
