"""Training-data text operators over the ``documents`` table.

Each operator is expressed with built-in pyspark.sql.functions only (JVM-side,
whole-stage-codegen'd; no Python in the hot path) and has an exact ANSI-SQL
twin in ``__spark_entry__.oracle_sql`` checked by DuckDB.

Portability contract with the oracles: hashes are md5 hex (identical across
engines); tokenization is lower-case split on '[^a-z0-9]+' with empties
dropped; all floats rounded to 4 decimals at the output boundary.

Scale notes: every operator is a scan + hash-aggregate or equi-join --
shuffle keys are doc hashes/tokens, so AQE handles hot keys; the pairwise
operators (jaccard) are explicitly bounded to a candidate subset, with the
MinHash-LSH path as the corpus-scale variant (candidates come from band
buckets, never a full cross join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

N_PERM = 8  # minhash permutations
N_BANDS = 4  # bands of 2 rows each


def spread_scan(df: DataFrame, barrier: bool = True) -> DataFrame:
    """Spread a degenerate scan across the cluster (guide §2.5 input skew).

    The sf documents/customer tables are single-row-group parquet files, and
    a parquet split can never subdivide a row group — so every downstream
    projection (tokenize, md5, regexp) runs in ONE task while the other
    cores idle.  A keyless repartition to the session's default parallelism
    moves only the narrow scan output once and parallelizes all compute
    after it.  Scale-adaptive, not a local[32] constant: when the scan
    already has >= defaultParallelism partitions (any real multi-file
    corpus), this is a no-op and no Exchange is added.

    Applied SELECTIVELY (spread=... at each call site): worth it exactly
    when the downstream per-row compute (tokenize/md5/regexp over text)
    dominates; a cheap column aggregate (metrics_rollup, topk_skew,
    route_filter, ...) is faster reading the file serially than paying
    the repartition + checkpoint materialization of columns it never
    needed."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive
        return df
    if n >= target:
        return df
    if not barrier:
        # filter-free consumers (the events window queries): a plain
        # repartition parallelizes everything above it and costs no
        # materialization
        return df.repartition(target)
    # LAZY localCheckpoint: predicate pushdown would otherwise move any
    # filter (including regexp/tokenize-shaped ones, e.g. pii_scan and
    # quality_score) BELOW the repartition and back into the serial scan
    # task, making the spread useless; the checkpoint is an optimizer
    # barrier that keeps all downstream compute after the exchange.
    # eager=False: no job at construction — materialized (once) by the
    # first action, shared by later references.
    return df.repartition(target).localCheckpoint(eager=False)


def load_documents(spark: SparkSession, sf_dir: str,
                   spread: bool = True) -> DataFrame:
    df = spark.read.parquet(sf_dir.rstrip("/") + "/documents.parquet")
    return spread_scan(df) if spread else df


def tokens_col(col="text"):
    """lower + split + drop empties; the oracle uses the same regex."""
    return F.filter(
        F.split(F.lower(F.col(col)), "[^a-z0-9]+"), lambda t: t != ""
    )


def with_tokens(docs: DataFrame) -> DataFrame:
    return docs.withColumn("toks", tokens_col())


# -----------------------------------------------------------------------------
# dedup family


def dedup_exact(spark, sf_dir) -> DataFrame:
    """Exact duplicate groups by content hash."""
    docs = load_documents(spark, sf_dir, spread=False)
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("dup_count") > 1)
        .select("text_hash", "dup_count", "keep_doc_id")
    )


def dedup_exact_keep_first(spark, sf_dir) -> DataFrame:
    """Survivors of exact dedup: the lowest doc_id per distinct content."""
    docs = load_documents(spark, sf_dir, spread=False)
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def _minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id -> s0..s{N_PERM-1} string-min signatures.

    Permutations are disjoint 8-hex-char (32-bit) slices of md5(tok) and
    md5(tok||'x'): md5 bits are uniformly mixed, so each slice is an
    independent uniform order on tokens, and a MIN over it is a valid
    minhash.  TWO md5 invocations per token instead of one per permutation
    — at corpus scale the signature stage is hash-bound, so this is ~4x
    less hashing for the same banding quality.  md5 (not engine-native
    hash()) stays bit-identical across Spark and DuckDB.

    Computed PER ROW with array higher-order functions (r06): the old
    explode -> groupBy(doc_id) shape paid a token-row blowup, a shuffle,
    and — because min(string) has no mutable agg buffer — a Sort +
    SortAggregate pair on each side; array_min(transform(...)) is the
    same min over the same values with zero Exchange and no sort.  The
    two md5 transforms live in their own projection so the 8 array_min
    consumers reference attributes (CollapseProject keeps non-cheap
    aliases used more than once un-inlined: each md5 runs once per
    token).  Docs with no tokens produce no signature row in either
    shape (explode of empty vs. size filter)."""
    # expressions built as SQL strings (one server-side parse each): the
    # py4j column-builder round trips for 10 lambdas cost ~0.5 s of
    # driver time per query construction, which at bench scale was ~15%
    # of the whole query; F.expr resolves to the IDENTICAL plan
    d = docs.select(
        "doc_id", F.array_distinct(tokens_col()).alias("toks")
    ).where(F.size("toks") > 0)
    hs = d.select(
        "doc_id",
        F.expr("transform(toks, t -> md5(t))").alias("h1"),
        F.expr("transform(toks, t -> md5(concat(t, 'x')))").alias("h2"),
    )
    return hs.select(
        "doc_id",
        *[
            F.expr(
                "array_min(transform(%s, h -> substring(h, %d, 8)))"
                % ("h1" if i < 4 else "h2", 8 * (i % 4) + 1)
            ).alias("s%d" % i)
            for i in range(N_PERM)
        ],
    )


MAX_BAND_BUCKET = 50  # degenerate-bucket guard (see docstring)


def dedup_minhash_lsh(spark, sf_dir, docs: DataFrame | None = None
                      ) -> DataFrame:
    """MinHash + LSH banding: candidate near-duplicate pairs.

    Scale path: signatures are one hash-agg over the exploded tokens; the
    pair generation is an equi-join on (band_id, band_hash) buckets — never
    a cross join.  Buckets larger than MAX_BAND_BUCKET are dropped before
    pairing: a bucket holding B docs yields B^2/2 candidate pairs, so one
    degenerate bucket (boilerplate, near-empty docs) can dominate the whole
    job; production LSH dedup pipelines cap bucket fan-out for exactly this
    reason.  The cap is a window count + filter — cheap, and it bounds the
    join output to MAX_BAND_BUCKET^2/2 pairs per bucket regardless of
    corpus size.

    ``docs``: optional (doc_id, text) DataFrame overriding the documents
    table — the composed pipeline (r05) runs this over extraction output
    with url as the id; string ids compare binary in both engines."""
    if docs is None:
        docs = load_documents(spark, sf_dir)
    sigs = _minhash_signatures(docs)
    bands = sigs.select(
        "doc_id",
        F.expr(
            "explode(array(%s))"
            % ", ".join(
                "struct(%d AS band_id, md5(concat(s%d, s%d)) AS band_hash)"
                % (j, 2 * j, 2 * j + 1)
                for j in range(N_BANDS)
            )
        ).alias("b"),
    ).select("doc_id", "b.band_id", "b.band_hash")
    # r06: pair generation by bucket grouping instead of occupancy-window +
    # self-join.  The old shape paid a window Sort, a SortMergeJoin whose
    # two sides each recomputed the full signature subtree (no exchange
    # reuse through the window), and a distinct — 3 shuffles + duplicate
    # compute.  Grouping each (band_id, band_hash) bucket once and
    # expanding the sorted member list to its ordered pairs JVM-side gives
    # the identical pair set (sort_array uses the same string/long ordering
    # as the old a.doc_id < b.doc_id join predicate) in 2 shuffles with the
    # signature computed once.  The cap is size(ids) <= MAX_BAND_BUCKET —
    # the same count the window computed — so pair output stays bounded at
    # cap^2/2 per bucket; the grouped state is ids only (8 bytes/member),
    # never payloads.
    buckets = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= MAX_BAND_BUCKET))
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _hex_val(col):
    """hex digit -> 0..15, portable (DuckDB: strpos(...)-1)."""
    return F.instr(F.lit("0123456789abcdef"), col) - 1


def dedup_simhash(spark, sf_dir) -> DataFrame:
    """16-bit SimHash per document from md5 nibble parities of its distinct
    tokens: bit_j = majority over tokens of parity(hexdigit_j(md5(tok)))."""
    docs = load_documents(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("tok")
    ).withColumn("h", F.md5("tok"))
    aggs = [
        F.sum(
            (_hex_val(F.substring("h", j + 1, 1)) % 2) * 2 - 1
        ).alias("b%d" % j)
        for j in range(16)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    sim = None
    for j in range(16):
        bit = (F.col("b%d" % j) > 0).cast("long") * (2 ** j)
        sim = bit if sim is None else sim + bit
    return sums.select("doc_id", sim.alias("simhash16"))


SIMHASH_BANDS = 4  # 16 bits banded 4x4: Hamming<=3 pairs share >=1 band
MAX_SIMHASH_BUCKET = 100


def dedup_simhash_pairs(spark, sf_dir, max_hamming: int = 3,
                        sim: DataFrame | None = None) -> DataFrame:
    """SimHash near-duplicate PAIRS (the pairing stage that makes SimHash a
    dedup, not just a fingerprint).

    The 16-bit signature is banded into 4 nibbles; by pigeonhole, any pair
    within Hamming distance 3 agrees on at least one band, so the banded
    equi-join finds all such pairs without a cross join.  Buckets above
    MAX_SIMHASH_BUCKET occupants are dropped before pairing (same
    degenerate-bucket guard as MinHash); the exact Hamming check
    (bit_count(xor)) then filters candidates, all JVM-side.

    ``sim``: optionally a precomputed (ideally persisted) dedup_simhash
    DataFrame — when both the fingerprint and the pairing run in one
    session, sharing it skips a full signature recomputation (one
    tokenize+explode+hash-agg pass over the corpus)."""
    if sim is None:
        sim = dedup_simhash(spark, sf_dir)
    bands = sim.select(
        "doc_id",
        "simhash16",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        (
                            F.shiftright(F.col("simhash16"), 4 * j)
                            .bitwiseAND(F.lit(15))
                        ).alias("band_val"),
                    )
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash16", "b.band_id", "b.band_val")
    # r06: same bucket-grouped pair expansion as dedup_minhash_lsh (see
    # there for the equivalence argument) — the signature rides inside the
    # collected struct so the Hamming check needs no join back.  sort_array
    # on struct(doc_id, simhash16) orders by doc_id first (unique), so
    # expanded pairs satisfy doc_a < doc_b exactly like the old join
    # predicate.
    buckets = (
        bands.groupBy("band_id", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash16"))
            ).alias("ms")
        )
        .where((F.size("ms") >= 2) & (F.size("ms") <= MAX_SIMHASH_BUCKET))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ms, (x, i) -> "
                "transform(slice(ms, i + 2, size(ms)), "
                "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
                "x.simhash16 AS sim_a, y.simhash16 AS sim_b))))"
            )
        ).alias("p")
    ).select("p.*")
    hamming = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    ).cast("long")
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """doc_id -> distinct word n-gram shingle strings (docs with >= n tokens)."""
    t = with_tokens(docs)
    shingle_expr = F.expr(
        "array_distinct(transform(sequence(1, size(toks) - %d), "
        "k -> concat_ws(' ', slice(toks, k, %d))))" % (n - 1, n)
    )
    return (
        t.filter(F.size("toks") >= n)
        .select("doc_id", F.explode(shingle_expr).alias("shingle"))
    )


def dedup_verified(spark, sf_dir, threshold: float = 0.2) -> DataFrame:
    """The FLAGSHIP near-dup dedup: MinHash-LSH candidate generation
    composed with exact 3-gram Jaccard verification.

    Stage 1 (dedup_minhash_lsh): banded, occupancy-capped equi-join —
    candidate volume is bounded per bucket regardless of corpus size.
    Stage 2 (this function): exact Jaccard computed ONLY on candidate
    pairs — shingles are left-semi-joined to docs that appear in some
    candidate, the intersection count is cand ⋈ shingles(doc_a) ⋈
    shingles(doc_b, same shingle), all equi-joins.  No stage is quadratic
    in the corpus; the verifier touches exactly the LSH survivors, which
    is the composition a 100 TB dedup run needs (candidate recall from
    LSH, precision from exact Jaccard)."""
    # r06: the candidate pairs and the candidate-member shingles are each
    # referenced by MULTIPLE downstream joins (ids, inter; sha, shb,
    # sizes), and Spark recomputes a lazily-referenced subtree per
    # reference — the old plan held 44 scans / 114 Exchanges of duplicated
    # LSH + shingle chains.  localCheckpoint materializes each once (both
    # are candidate-bounded, kilobyte-scale id/shingle rows — never
    # payloads; on a cluster this is a checkpoint to local executor
    # storage), collapsing the plan to single computation per stage.
    cand = dedup_minhash_lsh(spark, sf_dir).localCheckpoint()
    docs = load_documents(spark, sf_dir)
    ids = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
    )
    sh = _shingles(docs.join(ids, "doc_id", "left_semi")).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sha, "doc_a")
        .join(shb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_verified_keep(spark, sf_dir, threshold: float = 0.2) -> DataFrame:
    """Survivors of the verified dedup: every document that is not the
    HIGHER id of any verified near-dup pair.  With doc_a < doc_b in every
    pair, this keeps exactly the lowest id of each duplicate clique (the
    standard greedy pair-removal used at corpus scale; a full
    transitive-closure grouping needs iterative connected components and
    buys little when near-dup cliques are dense)."""
    pairs = dedup_verified(spark, sf_dir, threshold)
    docs = load_documents(spark, sf_dir)
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(dropped, "doc_id", "left_anti").select("doc_id")


def dedup_components(spark, sf_dir, threshold: float = 0.2,
                     max_iter: int = 20,
                     pairs: DataFrame | None = None) -> DataFrame:
    """Connected-components grouping over the verified near-dup pairs:
    every non-singleton document labeled with the MIN doc_id reachable in
    its duplicate component (the transitive-closure alternative to
    ``dedup_verified_keep``'s greedy pair-removal — with chains a->b->c
    the greedy rule can drop both b and c even though keeping one of
    each component is enough; this gives the exact component structure).

    Iterative min-label propagation: label(v) <- min(label(v),
    min(label(u) : u ~ v)), repeated until fixpoint.  Convergence is
    detected by the (monotonically decreasing) sum of labels — one tiny
    aggregate action per iteration — so the result is the unique
    fixpoint regardless of iteration count, which keeps the DuckDB
    recursive-CTE oracle value-identical.  Each iteration localCheckpoints
    the label table: it is one narrow row per non-singleton doc, and
    truncating lineage keeps iteration i from re-deriving iterations
    0..i-1 (on a cluster this is a reliable checkpoint to object storage).
    Iterations needed = component diameter — near-dup components are
    dense cliques, so 2-3 in practice; max_iter bounds adversarial
    chains.  Per iteration: one equi-join edges x labels + one min-agg —
    never a pairwise or quadratic stage."""
    if pairs is None:
        pairs = dedup_verified(spark, sf_dir, threshold)
    p = pairs.select("doc_a", "doc_b")
    edges = p.unionAll(
        p.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("doc_b"), F.col("label").alias("nl")
                ),
                "doc_b",
            )
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("nl").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    edges.unpersist()
    if not converged:
        # a path-shaped component with diameter > max_iter would exit the
        # loop with labels mid-propagation — silently wrong vs the exact
        # transitive closure (and the recursive-CTE oracle).  Make
        # non-convergence an explicit error instead (ADVICE r05).
        raise RuntimeError(
            "dedup_components did not reach its label fixpoint within "
            "max_iter=%d iterations (component diameter exceeds it); "
            "raise max_iter" % max_iter)
    return labels.select("doc_id", F.col("label").alias("component"))


def dedup_ngram_jaccard(spark, sf_dir, max_doc_id: int = 150,
                        threshold: float = 0.2) -> DataFrame:
    """Exact 3-gram Jaccard over a doc_id-bounded subset — a DEMO-scale
    exhaustive verifier kept for its deterministic oracle; the corpus-scale
    composition (LSH candidates -> exact Jaccard) is ``dedup_verified``."""
    # spread=False: the doc_id bound must reach the parquet scan as a
    # pushed filter; a repartition between scan and filter would shuffle
    # the whole table to keep 150 rows
    docs = load_documents(spark, sf_dir, spread=False).filter(
        F.col("doc_id") < max_doc_id
    )
    sh = _shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def doc_fingerprint(spark, sf_dir) -> DataFrame:
    """Winnowing-style document fingerprint: min hash over 3-gram shingles.

    r06: computed per row — array_min(transform(shingles, md5)) — instead
    of explode + groupBy(doc_id) min: the min over a document's shingle
    hashes needs no row blowup, no Exchange, and no SortAggregate (the
    old min(string) agg shape).  Same values: min over the distinct
    shingles equals min over all of them, and the >= 3-token filter
    matches the old explode-empty behavior."""
    docs = with_tokens(load_documents(spark, sf_dir))
    shingle_expr = F.expr(
        "array_distinct(transform(sequence(1, size(toks) - 2), "
        "k -> concat_ws(' ', slice(toks, k, 3))))"
    )
    return (
        docs.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.array_min(
                F.transform(shingle_expr, lambda s: F.md5(s))
            ).alias("fingerprint"),
        )
    )


# -----------------------------------------------------------------------------
# text analysis

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "para", "con"],
}
_LANG_ORDER = ["en", "de", "fr", "es"]


def _stop_count(lang: str):
    arr = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    return F.size(F.filter(F.col("toks"), lambda t: F.array_contains(arr, t)))


def lang_id(spark, sf_dir) -> DataFrame:
    """n-gram/stopword language-ID heuristic; deterministic tie-break by
    fixed language priority."""
    docs = with_tokens(load_documents(spark, sf_dir, spread=False))
    scored = docs.select(
        "doc_id",
        *[_stop_count(lg).alias("score_%s" % lg) for lg in _LANG_ORDER],
    )
    pred = F.lit("und")
    # reverse priority: earlier languages win ties
    for lg in reversed(_LANG_ORDER):
        cond = F.lit(True)
        for other in _LANG_ORDER:
            if other == lg:
                continue
            better = (
                F.col("score_%s" % lg) >= F.col("score_%s" % other)
                if _LANG_ORDER.index(other) > _LANG_ORDER.index(lg)
                else F.col("score_%s" % lg) > F.col("score_%s" % other)
            )
            cond = cond & better
        pred = F.when((F.col("score_%s" % lg) > 0) & cond, lg).otherwise(pred)
    return scored.select("doc_id", pred.alias("pred_lang"))


def round4_half_up(c):
    """Round a double to 4 decimals as floor(x * 10000 + 0.5) / 10000:
    IEEE operations that the DuckDB oracle repeats bit for bit.  F.round
    rounds the double's decimal string instead, and DuckDB's round() the
    scaled double, so the two break half-way ties differently."""
    return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def quality_score(spark, sf_dir) -> DataFrame:
    """Length / stopword-ratio / word-shape quality heuristic in [0,1]."""
    docs = with_tokens(load_documents(spark, sf_dir))
    n_tok = F.size("toks")
    stop_ratio = _stop_count("en") / n_tok
    avg_len = F.aggregate(
        "toks", F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / n_tok
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        + F.lit(0.3) * stop_ratio
        + F.lit(0.3) * F.least(F.lit(1.0), avg_len / F.lit(8.0))
    )
    return docs.filter(n_tok > 0).select(
        "doc_id",
        n_tok.alias("n_tokens"),
        round4_half_up(stop_ratio).alias("stopword_ratio"),
        round4_half_up(score).alias("quality"),
    )


def token_count(spark, sf_dir) -> DataFrame:
    docs = with_tokens(load_documents(spark, sf_dir, spread=False))
    return docs.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.length("text").alias("n_chars_text"),
    )


# BPE-ish pre-tokenizer (the GPT-2 pre-tokenization shape: contraction
# suffixes, letter runs, digit runs, punctuation runs, whitespace) --
# unicode-class based so Spark (Java regex) and DuckDB (RE2) count alike
BPE_SPLIT_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def token_count_bpe(spark, sf_dir) -> DataFrame:
    """Token counting with a BPE-style pre-tokenizer regex: the standard
    proxy for 'how many LLM tokens is this document' at corpus scale,
    computed entirely JVM-side (regexp_count, no Python)."""
    docs = load_documents(spark, sf_dir, spread=False)
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_SPLIT_RE)).alias("n_bpe_tokens"),
    )


def quality_filter_funnel(spark, sf_dir) -> DataFrame:
    """The training-data filter funnel: how many documents survive each
    successive quality gate (length -> language -> token count).  One
    hash-aggregate over the corpus with conditional sums — the canonical
    'where did my 100 TB go' diagnostic, computed in a single pass."""
    docs = with_tokens(load_documents(spark, sf_dir))
    p_len = F.col("n_chars") >= 200
    p_lang = p_len & (F.col("lang") == "en")
    p_tok = p_lang & (F.size("toks") >= 50)
    b = lambda c: F.sum(c.cast("long")).alias  # noqa: E731
    return docs.agg(
        F.count("*").alias("total"),
        b(p_len)("pass_length"),
        b(p_lang)("pass_lang"),
        b(p_tok)("pass_tokens"),
    )


# portable regexes: character classes + bounded reps only (no lookaround),
# identical semantics under Java regex (Spark) and RE2 (DuckDB)
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_DIGITRUN_RE = r"[0-9]{9,}"


def pii_scan(spark, sf_dir) -> DataFrame:
    """Multi-source PII-pattern sweep: email-shaped tokens and long digit
    runs (SSN/account-number superset) counted JVM-side (regexp_count)
    over every text-bearing column — here documents.text and
    customer.c_name (whose Customer#000000042 ids ARE 9-digit runs, the
    classic leaked-identifier shape).  Returns only records with a hit:
    the redaction work-list, tiny relative to the corpus."""
    emails = lambda c: F.regexp_count(c, F.lit(PII_EMAIL_RE))  # noqa: E731
    digitruns = lambda c: F.regexp_count(c, F.lit(PII_DIGITRUN_RE))  # noqa: E731
    docs = load_documents(spark, sf_dir).select(
        F.lit("documents").alias("source"),
        F.col("doc_id").alias("record_id"),
        emails(F.col("text")).alias("emails"),
        digitruns(F.col("text")).alias("digit_runs"),
    )
    # spread: the regexp sweep runs in the scan stage, and customer is a
    # single-row-group file (see spread_scan)
    cust = spread_scan(
        spark.read.parquet(sf_dir.rstrip("/") + "/customer.parquet")
    ).select(
        F.lit("customer").alias("source"),
        F.col("c_custkey").alias("record_id"),
        emails(F.col("c_name")).alias("emails"),
        digitruns(F.col("c_name")).alias("digit_runs"),
    )
    return docs.unionAll(cust).filter(
        (F.col("emails") > 0) | (F.col("digit_runs") > 0)
    )


def dedup_text_prefix(spark, sf_dir, prefix_tokens: int = 10) -> DataFrame:
    """Boilerplate-prefix dedup: documents sharing the same normalized
    first-N-token prefix (lower-cased, punctuation-stripped).  Catches
    template intros that byte-exact dedup misses, in ONE hash-aggregate —
    no pairwise stage at all."""
    docs = with_tokens(load_documents(spark, sf_dir))
    prefix = F.concat_ws(" ", F.slice(F.col("toks"), 1, prefix_tokens))
    return (
        docs.groupBy(F.md5(prefix).alias("prefix_hash"))
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("dup_count") > 1)
        .select("prefix_hash", "dup_count", "keep_doc_id")
    )


def length_histogram(spark, sf_dir, bucket_chars: int = 500,
                     max_bucket: int = 20) -> DataFrame:
    """Document-length distribution: n_chars bucketed to ``bucket_chars``
    steps with a top catch-all — the skew/straggler planning input for
    partition sizing."""
    docs = load_documents(spark, sf_dir, spread=False)
    bucket = F.least(
        F.floor(F.col("n_chars") / F.lit(bucket_chars)), F.lit(max_bucket)
    ).cast("long")
    return (
        docs.groupBy(bucket.alias("len_bucket"))
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").alias("chars"),
        )
    )


# -----------------------------------------------------------------------------
# relational shell of the extraction pipeline (oracle-checkable analogs)


def route_filter(spark, sf_dir) -> DataFrame:
    """Routing-predicate analog: docs per source over a length filter."""
    docs = load_documents(spark, sf_dir, spread=False)
    return (
        docs.filter(F.col("n_chars") >= 100)
        .groupBy("source")
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
    )


def latest_snapshot_events(spark, sf_dir) -> DataFrame:
    """warc_ts window-dedup analog over events: newest event per user."""
    # NOT spread: the window exchange immediately follows the scan, so a
    # repartition would only add a second full shuffle of the events rows
    # (measured in-bench: 1.4 -> 2.2 s with the spread; the serial scan
    # read is not the bottleneck here)
    ev = spark.read.parquet(sf_dir.rstrip("/") + "/events.parquet")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "event_type",
                F.round("value", 4).alias("value"))
    )


def metrics_rollup(spark, sf_dir) -> DataFrame:
    """Extraction-metrics aggregation analog: per-lang lineage rollup."""
    docs = load_documents(spark, sf_dir, spread=False)
    return docs.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def resume_anti_join(spark, sf_dir) -> DataFrame:
    """Checkpoint-resume analog: customers with no orders (left anti)."""
    cust = spark.read.parquet(sf_dir.rstrip("/") + "/customer.parquet")
    orders = spark.read.parquet(sf_dir.rstrip("/") + "/orders.parquet")
    return (
        cust.join(
            orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
            "c_custkey",
            "left_anti",
        )
        .select("c_custkey", "c_name")
    )


def topk_skew(spark, sf_dir, k: int = 10) -> DataFrame:
    """Straggler-diagnostic analog: top-k largest documents."""
    docs = load_documents(spark, sf_dir, spread=False)
    return (
        docs.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "n_chars")
    )


def pricing_summary(spark, sf_dir) -> DataFrame:
    """TPC-H Q1-shaped aggregate over lineitem: the canonical partial+final
    hash-agg shape (map-side combine; one shuffle of tiny grouped rows)."""
    li = spark.read.parquet(sf_dir.rstrip("/") + "/lineitem.parquet")
    cutoff = F.lit("1998-09-02").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def order_revenue_by_region(spark, sf_dir) -> DataFrame:
    """Multi-way join chain (customer -> nation -> region + orders): small
    dims broadcast, one shuffle on the fact side."""
    sf = sf_dir.rstrip("/")
    cust = spark.read.parquet(sf + "/customer.parquet")
    orders = spark.read.parquet(sf + "/orders.parquet")
    nation = spark.read.parquet(sf + "/nation.parquet")
    region = spark.read.parquet(sf + "/region.parquet")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


def events_sessionize(spark, sf_dir, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization: a new session starts after a >30 min gap."""
    # NOT spread: the window exchange immediately follows the scan, so a
    # repartition would only add a second full shuffle of the events rows
    # (measured in-bench: 1.4 -> 2.2 s with the spread; the serial scan
    # read is not the bottleneck here)
    ev = spark.read.parquet(sf_dir.rstrip("/") + "/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NB: parquet TIMESTAMP lands as TIMESTAMP_NTZ; unix seconds via a
    # ltz cast (the DIFFERENCE is tz-invariant, matching date_diff in SQL)
    secs = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = secs - F.lag(secs).over(w)
    new_sess = F.when(
        gap.isNull() | (gap > gap_minutes * 60), 1
    ).otherwise(0)
    df = ev.withColumn("new_sess", new_sess)
    sess_id = F.sum("new_sess").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("session_id", sess_id)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
    )
