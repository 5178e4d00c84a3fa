"""Deduplication operators for training-data pipelines: exact hash dedup,
MinHash+LSH near-dup, SimHash near-dup, and n-gram Jaccard similarity.

Design for 100 TB:
- exact dedup is one hash-groupBy (map-side partial agg, one shuffle on
  the 128-bit digest — uniformly distributed, skew-free by construction);
- MinHash/SimHash signatures are single-pass projections built entirely
  from built-in higher-order functions (xxhash64 / transform / aggregate),
  so signature computation never leaves the JVM;
- candidate generation is a band-bucket self-equi-join — the only shuffle
  is on (band_id, band_hash). Hot buckets (boilerplate docs) are the skew
  risk; AQE skew-join handles moderate skew and ``max_bucket_size`` hard-caps
  pathological buckets (standard practice: a bucket with thousands of
  identical-signature docs is itself a dup cluster, handled by exact dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens_col

# LSH geometry: P minhash permutations split into B bands of R rows.
MINHASH_PERMS = 16
LSH_BANDS = 4
LSH_ROWS = 4


import os as _os

# Respread only pays when the per-row signature work it unlocks outweighs
# one extra narrow shuffle (~0.2-0.5 s of stage fixed cost in local mode).
# The gate reads Catalyst's optimizer statistics (driver-side metadata, no
# job): below the threshold the serial fold is cheaper than the shuffle —
# measured at sf0.1 (0.57 MB of documents, ~5 k rows: fold ≈ 0.9 s serial,
# respread net-negative in-suite), while the 10× replica (~6 MB, ~50 k
# rows) wins 1.4× from the spread. Parameterised for other clusters:
# production boxes with slower cores or bigger fixed costs tune the
# threshold via env, the default keeps the local bench honest.
_RESPREAD_MIN_BYTES = int(
    _os.environ.get("SPARK_GRAFT_RESPREAD_MIN_BYTES", str(2 << 20))
)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated output size of ``df`` in bytes — pure
    driver-side plan statistics (the same estimate the broadcast-join
    threshold consults), no job, no RDD materialization."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def _parallelize_input(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy per-row
    signature computation. A single-file parquet source arrives as one
    partition — the 16-permutation fold would then run on one core while
    31 idle. The repartition shuffle moves only raw rows (cheap relative
    to the compute it unlocks); inputs that already have enough
    partitions pass through untouched, and inputs too SMALL to amortize
    the shuffle (plan-statistics gate, see _RESPREAD_MIN_BYTES) skip it —
    an unconditional respread was measured net-negative at bench scale
    (3 extra shuffle stages × 32 tiny tasks for ~5 k rows)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # inputFiles() reads the file index off the already-analyzed scan —
    # no physical planning and no RDD materialization (df.rdd.getNumPartitions
    # would force both just to read a count). Non-file relations (in-memory
    # test frames, views over joins) report 0 files and fall through to the
    # size gate like everything else.
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    size = _plan_size_bytes(df)
    if size is not None and size < _RESPREAD_MIN_BYTES:
        return df
    return df.repartition(target)


def exact_dedup_clusters(documents: DataFrame) -> DataFrame:
    """Exact duplicate clusters keyed by content digest: each cluster keeps
    the minimum doc_id as canonical representative."""
    return (
        documents.withColumn("text_hash", F.md5(F.coalesce(F.col("text"), F.lit(""))))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_against_corpus(
    incoming: DataFrame, corpus: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Incremental exact dedup: keep the incoming-batch documents whose
    text does not already exist in the standing corpus, collapsing exact
    duplicates *within* the batch to their min-``id_col`` representative.

    This is the snapshot-over-snapshot ingestion shape: at 100 TB the
    standing corpus never re-shuffles its text — both sides reduce to a
    digest projection, the corpus side deduplicates map-side
    (``distinct`` on the 32-byte digest), and the batch anti-joins on the
    digest only. The kept rows then re-attach their full payload through
    an ``id_col`` semi-join against the (much smaller) batch — text
    payloads move only for rows that survive. A production run would
    persist the corpus digest set as its own compact table and skip the
    corpus scan entirely; the operator takes any digest-projectable
    DataFrame so that table slots straight in.
    """
    # null-flag prefix, same convention as _collapse_exact_dups and the
    # streaming content-hash dedup: NULL text and '' are different
    # contents and must not collapse into one digest group
    digest = F.concat(
        F.col("text").isNull().cast("int").cast("string"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))),
    )
    corpus_digests = corpus.select(digest.alias("text_hash")).distinct()
    batch = incoming.withColumn("text_hash", digest)
    fresh = batch.select(id_col, "text_hash").join(
        corpus_digests, "text_hash", "left_anti"
    )
    keep_ids = fresh.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    return batch.join(
        keep_ids.select(id_col), id_col, "left_semi"
    ).drop("text_hash")


def near_dedup_against_corpus(
    incoming: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    persist_tracker: list | None = None,
) -> DataFrame:
    """Incremental NEAR-dup dedup: keep incoming-batch documents that have
    no near-duplicate (shingle-set Jaccard ≥ ``threshold``) in the
    standing corpus — the snapshot-over-snapshot upgrade of
    :func:`dedup_against_corpus`, which only catches byte-identical
    re-crawls.

    Pipeline: exact pass first (digest anti-join + intra-batch collapse,
    via dedup_against_corpus), then MinHash band keys on BOTH sides,
    band-key equi-join for candidates (id-only shuffle), exact Jaccard
    verification on the candidates' shingle sets, and an anti-join of
    the batch against the matched ids. The corpus side signatures over
    its DISTINCT texts only (exact-dup collapse), and the hot-bucket cap
    polices corpus-side boilerplate keys the same way minhash_lsh_pairs
    caps its self-join. At 100 TB a production run materializes the
    corpus signature relation once and reuses it every ingest — the
    operator takes any (doc_id, text) relation, so a signatures table
    slots in via a trivial adapter.

    Intra-batch NEAR-dups are deliberately out of scope (exact intra-batch
    dups are collapsed): symmetric near-dup resolution needs the pair →
    connected-components → keep-list machinery (minhash_lsh_pairs +
    near_dup_clusters), which the batch can run on itself afterward.

    ``persist_tracker``: the operator persists its two signature
    relations for multi-branch reuse inside the one query; a one-shot
    caller can ignore that, but a LOOPING caller (the streaming curation
    tail runs this every microbatch) must release them or cached blocks
    accumulate for the stream's lifetime — pass a list and unpersist its
    contents after the action that consumes the result.
    """
    fresh = dedup_against_corpus(incoming, corpus)
    # raw-text prefilter ≡ the old filter(minhash.isNotNull()) — see
    # minhash_lsh_pairs: the computed-column filter double-evaluated the
    # signature fold per row
    inc_sig = (
        with_minhash(_parallelize_input(_nonempty_text(fresh)), k)
        .select("doc_id", "shingles", "minhash")
        .persist()
    )
    cor_reps, _memb = _collapse_exact_dups(corpus)
    cor_sig = (
        with_minhash(_parallelize_input(_nonempty_text(cor_reps)), k)
        .select("doc_id", "shingles", "minhash")
        .persist()
    )
    if persist_tracker is not None:
        persist_tracker.extend([inc_sig, cor_sig])
    inc_bands = _minhash_band_keys(inc_sig).select(
        F.col("doc_id").alias("inc_id"), "band_id", "band_hash"
    )
    cor_bands = _minhash_band_keys(cor_sig)
    hot = (
        cor_bands.groupBy("band_id", "band_hash")
        .count()
        .filter(F.col("count") > max_bucket_size)
        .drop("count")
    )
    cor_bands = cor_bands.join(
        F.broadcast(hot), ["band_id", "band_hash"], "left_anti"
    ).select(F.col("doc_id").alias("cor_id"), "band_id", "band_hash")

    cand = (
        inc_bands.join(cor_bands, ["band_id", "band_hash"])
        .select("inc_id", "cor_id")
        .distinct()
    )
    scored = cand.join(
        inc_sig.select(F.col("doc_id").alias("inc_id"), F.col("shingles").alias("sh_a")),
        "inc_id",
    ).join(
        cor_sig.select(F.col("doc_id").alias("cor_id"), F.col("shingles").alias("sh_b")),
        "cor_id",
    )
    matched = (
        scored.filter(_jaccard() >= threshold).select("inc_id").distinct()
    )
    return fresh.join(
        matched.select(F.col("inc_id").alias("doc_id")), "doc_id", "left_anti"
    )


def with_shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """Word k-shingles as a distinct array column (single projection)."""
    df = documents.withColumn("toks", tokens_col(F.col("text")))
    shingles = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(toks) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', slice(toks, i, {k}))))"
    )
    return df.withColumn("shingles", F.when(F.size("toks") == 0, F.array().cast("array<string>")).otherwise(shingles)).drop("toks")


def _jaccard(a: str = "sh_a", b: str = "sh_b"):
    """round(|A∩B| / |A∪B|, 4) between two shingle-array columns, 0.0 on an
    empty union — ONE definition shared by every exact-Jaccard
    verification site (minhash pairs, n-gram pairs, corpus near-dedup) so
    the rounding grid and zero guard can never drift between operators."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.round(
        F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)), 4
    )


def _nonempty_text(documents: DataFrame) -> DataFrame:
    """Rows whose MinHash signature would be non-NULL, decided on the RAW
    text column: ``minhash IS NULL ⟺ size(toks) = 0 ⟺ text is non-NULL
    with length(trim(text)) = 0`` (a NULL text shingles to [''] and
    carries a real signature, so it must be KEPT — hence the isNull
    disjunct). Equivalent to ``filter(minhash.isNotNull())`` after
    :func:`with_minhash` (asserted in tests), but evaluated at the scan:
    the computed-column form made Catalyst push the predicate below the
    projection and evaluate the whole signature fold twice per row."""
    return documents.filter(
        F.col("text").isNull() | (F.length(F.trim(F.col("text"))) > 0)
    )


def _minhash_band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) from a minhash-signature relation —
    the banded LSH join key shared by the self-join (minhash_lsh_pairs)
    and the corpus-vs-batch join (near_dedup_against_corpus). One
    projection + explode, no shuffle."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            F.expr(f"slice(minhash, {b * LSH_ROWS + 1}, {LSH_ROWS})")
                        ).alias("band_hash"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


def with_minhash(documents: DataFrame, k: int = 3) -> DataFrame:
    """MinHash signature (MINHASH_PERMS values) over word k-shingles.

    Permutation p is the seeded hash xxhash64(shingle, p) — seeded
    rehashing instead of affine a*h+b because Spark's ANSI mode (default
    in 4.x) rejects the intentional long wraparound. array_min folds each
    permutation to its signature element. All JVM built-ins — no UDF,
    no shuffle.
    """
    df = with_shingles(documents, k)
    sig = F.array(
        *[
            F.expr(f"array_min(transform(shingles, s -> xxhash64(s, {p})))")
            for p in range(MINHASH_PERMS)
        ]
    )
    return df.withColumn(
        "minhash", F.when(F.size("shingles") == 0, F.lit(None)).otherwise(sig)
    )


def _collapse_exact_dups(documents: DataFrame):
    """Shared pre-stage for the near-dup operators: group identical texts
    (md5), pick the min-doc_id representative, and build the long-keyed
    membership relation (doc_id, rep_id, gsize).

    Returns (reps, memb): ``reps`` carries one text per distinct content
    for signature work; ``memb`` is two longs per doc — the ONLY relation
    the pair expansion shuffles, deliberately not the md5 strings (a
    32-char key doubles shuffle bytes on the expanded pair set, measured
    3× slower on a near-dup-dense corpus)."""
    # Null-distinguishing hash key: prefix the digest with an isnull flag
    # so NULL text and '' land in separate groups (today both produce null
    # signatures, but a signature that ever treats them differently must
    # not inherit a silently merged group). min_by picks the SAME row's
    # text as the min-doc_id representative — deterministic, unlike
    # F.first, which is partition-order dependent.
    with_hash = _parallelize_input(documents).withColumn(
        "text_hash",
        F.concat(
            F.col("text").isNull().cast("int").cast("string"),
            F.md5(F.coalesce(F.col("text"), F.lit(""))),
        ),
    )
    reps = with_hash.groupBy("text_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("gsize"),
        F.min_by("text", "doc_id").alias("text"),
    )
    memb = (
        with_hash.select("doc_id", "text_hash")
        .join(
            reps.select(F.col("doc_id").alias("rep_id"), "text_hash", "gsize"),
            "text_hash",
        )
        .select("doc_id", "rep_id", "gsize")
        .persist()
    )
    return reps, memb


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    memb: DataFrame,
    dup_reps: DataFrame,
    value_col: str,
    dup_value,
) -> DataFrame:
    """Expand representative-level near-dup pairs to document level:
    cross-group pairs inherit the representative pair's score (exact —
    group members share one text); intra-group pairs of ``dup_reps``
    groups get ``dup_value`` (identical texts). Two long-keyed joins;
    each unordered doc pair appears exactly once."""
    cross = (
        rep_pairs.join(
            memb.select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("ma")),
            "doc_a",
        )
        .join(
            memb.select(F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("mb")),
            "doc_b",
        )
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            value_col,
        )
    )
    dup_members = memb.join(dup_reps, "rep_id")
    intra = (
        dup_members.select("rep_id", F.col("doc_id").alias("doc_a"))
        .join(dup_members.select("rep_id", F.col("doc_id").alias("doc_b")), "rep_id")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dup_value.alias(value_col))
    )
    return cross.unionByName(intra)


def minhash_lsh_pairs(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH, verified with
    exact shingle-set Jaccard.

    Pipeline: collapse exact-duplicate texts to one representative →
    signature → explode into (band_id, band_hash) keys → self-equi-join
    on the band key (the ONE heavy shuffle) → distinct rep pairs →
    verify Jaccard ≥ threshold on the shingle sets → expand rep pairs
    back to doc pairs through the membership table.

    The exact-dup collapse is the single biggest lever at corpus scale
    (web crawls are ~30% exact dups; the pre-dedup stage every
    production pipeline runs first): LSH work scales with DISTINCT
    texts, and candidate volume for a text duplicated d times drops d² —
    measured 17.8 s → 3 s at a 10×-replicated corpus. Identical docs
    also stop flooding band buckets, so the bucket cap only has to
    police genuinely-near texts. Expansion emits intra-group pairs at
    Jaccard 1.0 (groups over ``max_bucket_size`` are exact-dup floods
    owned by exact_dedup_clusters — same policy and constant as the
    band cap) and cross-group pairs at the representative pair's
    Jaccard, which is exact because group members share one text.
    """
    reps, memb = _collapse_exact_dups(documents)
    # persist the signature relation ONCE: without it every downstream
    # branch (bucket sizing, both join sides, verification) re-runs the
    # full tokenize→shingle→16-permutation fold — measured ~5×
    # recomputation. At cluster scale the same role is played by
    # materializing signatures to a table between the stages.
    # The null filter sits on the RAW text, not the computed column:
    # ``minhash IS NULL ⟺ size(toks) = 0 ⟺ text is non-NULL with
    # length(trim(text)) = 0`` (NULL text shingles to [''] — a real
    # signature — so it stays, exactly as isNotNull kept it; asserted in
    # tests). Filtering on the computed column made Catalyst push the
    # predicate below the projection and evaluate the 16-permutation
    # fold TWICE per row — measured 0.94 s → 5.5 s on the sf0.1 reps.
    # reps is a groupBy output that AQE coalesces to ~1 partition at small
    # scale — respread it so the shingle+16-permutation fold uses every
    # core, not one (the shuffle moves a few thousand raw texts)
    sig = (
        with_minhash(_parallelize_input(_nonempty_text(reps)), k)
        .select("doc_id", "shingles", "minhash")
        .persist()
    )
    shingle_tbl = sig.select("doc_id", "shingles")
    bands = _minhash_band_keys(sig)

    # hard-cap pathological buckets (exact-dup floods) — they're handled by
    # exact_dedup_clusters; near-dup LSH shouldn't quadratically explode.
    # The cap is applied as a broadcast ANTI-join against the HOT keys:
    # by construction there are at most n/max_bucket_size of them (each
    # represents > cap docs), so the hot set is tiny and the bands
    # relation itself never shuffles for the cap — vs an inner join
    # against all small keys, which shuffles both sides.
    bucket_sizes = bands.groupBy("band_id", "band_hash").count()
    hot = bucket_sizes.filter(F.col("count") > max_bucket_size).drop("count")
    capped = bands.join(F.broadcast(hot), ["band_id", "band_hash"], "left_anti")

    # the band self-join carries only (doc_id, band key) — the heavy
    # shingle arrays join back AFTER the pair set is deduplicated
    left = capped.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    right = capped.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
    cand = (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pairs = cand.join(
        shingle_tbl.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
        "doc_a",
    ).join(
        shingle_tbl.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
        "doc_b",
    )
    rep_pairs = (
        pairs.withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )

    # expand rep pairs to doc pairs; intra-group pairs (identical texts)
    # score jaccard 1.0, groups past the cap belong to exact dedup. The
    # semi-join against sig keeps empty-shingle groups out (their rep has
    # no signature — matching the pre-collapse isNotNull filter).
    dup_reps = (
        memb.filter((F.col("gsize") >= 2) & (F.col("gsize") <= max_bucket_size))
        .select("rep_id")
        .distinct()
        .join(sig.select(F.col("doc_id").alias("rep_id")), "rep_id", "left_semi")
    )
    return _expand_rep_pairs(rep_pairs, memb, dup_reps, "jaccard", F.lit(1.0))


def with_simhash(documents: DataFrame) -> DataFrame:
    """64-bit SimHash per document from token md5 bit votes.

    aggregate() folds token hashes into a 64-slot vote vector (+1/-1 per
    bit), then the sign pattern packs back into one long. Pure built-in
    higher-order functions, single projection.

    md5 (not xxhash64) is the token hash since round 5 — the
    cross-engine choice that lets DuckDB reproduce the identical bits
    (see SQL_SIMHASH_NEAR_PAIRS): bit b of a token's 64-bit hash is bit
    ``b % 4`` of hex digit ``b // 4`` of its md5. The 16 digit values
    are extracted ONCE per token (inner transform), then fan out to 64
    ±1 votes with integer ops only — not 64 substring probes.
    """
    df = documents.withColumn("toks", tokens_col(F.col("text")))
    votes = (
        "aggregate(transform(toks, t -> md5(t)), "
        "  array_repeat(0, 64), "
        "  (acc, m) -> zip_with(acc, "
        "    flatten(transform(transform(sequence(0, 15), "
        "      i -> instr('0123456789abcdef', substring(m, i + 1, 1)) - 1), "
        "      d -> array("
        "        CASE WHEN d % 2 = 1 THEN 1 ELSE -1 END, "
        "        CASE WHEN shiftright(d, 1) % 2 = 1 THEN 1 ELSE -1 END, "
        "        CASE WHEN shiftright(d, 2) % 2 = 1 THEN 1 ELSE -1 END, "
        "        CASE WHEN shiftright(d, 3) % 2 = 1 THEN 1 ELSE -1 END))), "
        "    (x, y) -> x + y))"
    )
    df = df.withColumn("votes", F.expr(votes))
    # pack references `votes` exactly ONCE: Catalyst's CollapseProject may
    # inline the alias, and a 64-reference form would re-evaluate the whole
    # token fold per output bit (measured 64× slowdown)
    pack = (
        "aggregate(zip_with(votes, sequence(0, 63), "
        "  (v, b) -> CASE WHEN v > 0 THEN shiftleft(1L, b) ELSE 0L END), "
        "0L, (s, x) -> s + x)"
    )
    return df.withColumn(
        "simhash",
        F.when(F.size("toks") == 0, F.lit(None).cast("long")).otherwise(F.expr(pack)),
    ).drop("toks", "votes")


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash) for every document with a non-empty token list —
    bit-identical to ``with_simhash(...).filter(isNotNull).select(...)``
    (equality-asserted in tests) at a fraction of the cost, two changes
    motivated by the optimization playbook:

    1. The vote fold runs as ONE Arrow-batched numpy pass (mapInArrow)
       instead of the interpreted 64-slot higher-order aggregate:
       Spark's HOFs are interpreted per element, and the fold allocates
       a 16-digit transform + 64-wide flatten + 64-wide zip_with PER
       TOKEN (measured 4.7 s over 5 k docs at sf0.1; the numpy pass is
       ~0.2 s). Tokenization stays a Spark column (identical split
       semantics — Python only sees the finished token arrays), md5 is
       md5 everywhere, and the digest→±1-vote bit mapping reproduces the
       fold's exact bit order, so the packed long is bit-identical.
    2. The null filter moves OFF the computed column onto the raw text:
       ``simhash IS NULL ⟺ size(toks) = 0 ⟺ length(trim(text)) = 0``
       (NULL text folds to NULL simhash and ``NULL > 0`` filters false,
       matching isNotNull's drop). Filtering on the computed column made
       Catalyst push the predicate below the projection and re-evaluate
       the whole fold per row — measured 2× (9.0 s vs 4.7 s) — while the
       raw-text predicate costs one trim at the scan.
    """
    toks = tokens_col(F.col("text"))
    base = _parallelize_input(
        documents.filter(F.length(F.trim(F.col("text"))) > 0).select(
            "doc_id", "text"
        )
    ).select("doc_id", toks.alias("toks"))

    def _sig(batches):
        # self-contained: workers can't import this package
        import hashlib

        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            doc_ids = batch.column("doc_id")
            lists = batch.column("toks")
            counts = np.asarray(lists.value_lengths())  # ≥1 per row (prefilter)
            flat = lists.flatten().to_pylist()
            # md5 each DISTINCT token once (corpora repeat tokens heavily;
            # the sf0.1 reps carry 270 k tokens over a 31-word vocabulary)
            uniq, inv = np.unique(np.asarray(flat, dtype=object), return_inverse=True)
            # token md5 → first 8 digest bytes; simhash bit b is bit (b%4)
            # of hex digit (b//4), i.e. per digest byte the two nibbles
            # swap and bits read LSB-first — one vectorized unpackbits
            dig = np.frombuffer(
                b"".join(hashlib.md5(t.encode("utf-8")).digest()[:8] for t in uniq),
                dtype=np.uint8,
            ).reshape(-1, 8)
            swapped = ((dig >> 4) | ((dig & 0x0F) << 4)).astype(np.uint8)
            bits_u = np.unpackbits(swapped, axis=1, bitorder="little")  # (n_uniq, 64)
            starts = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            # vote accumulation in fixed-size ROW CHUNKS: the expanded
            # (n_tok, 64) int32 gather is ~256 B/token — long documents ×
            # a 10 k-row Arrow batch would transiently hold multi-GB per
            # concurrent task. Chunk boundaries are aligned DOWN to doc
            # starts so every reduceat segment stays whole; peak transient
            # memory is ~CHUNK_TOKENS * 64 B regardless of batch shape.
            CHUNK_TOKENS = 1 << 18  # ~64 MB expanded per chunk
            n_docs = len(counts)
            ones = np.empty((n_docs, 64), dtype=np.int64)
            ends = starts + counts
            d0 = 0
            while d0 < n_docs:
                d1 = d0 + 1
                while d1 < n_docs and ends[d1 - 1] - starts[d0] < CHUNK_TOKENS:
                    d1 += 1
                seg = slice(starts[d0], ends[d1 - 1])
                bits = bits_u[inv[seg]].astype(np.int32)
                ones[d0:d1] = np.add.reduceat(
                    bits, (starts[d0:d1] - starts[d0]), axis=0
                )
                d0 = d1
            # vote_b = 2*ones_b - n_tok; bit set ⟺ vote_b > 0
            mask = (ones.astype(np.int64) * 2) > counts[:, None]
            packed = np.packbits(mask.astype(np.uint8), axis=1, bitorder="little")
            sim = packed.view("<i8").ravel()  # two's-complement reinterpret
            yield pa.RecordBatch.from_arrays(
                [doc_ids, pa.array(sim, type=pa.int64())],
                ["doc_id", "simhash"],
            )

    return base.mapInArrow(_sig, "doc_id long, simhash long")


def simhash_near_pairs(
    documents: DataFrame, max_hamming: int = 8, max_bucket_size: int = 1000
) -> DataFrame:
    """Near-dup pairs where hamming(simhash_a, simhash_b) <= max_hamming.

    Candidates come from equality on any of four 16-bit chunks (pigeonhole:
    hamming ≤ 3 guarantees one equal chunk; larger radii are best-effort),
    so the join key is (chunk_id, chunk_value) — never a cross join. Hot
    chunk buckets are capped like in minhash LSH.

    Exact-duplicate texts are collapsed to one representative before the
    chunk join (same structure as minhash_lsh_pairs — signature work and
    candidate volume scale with DISTINCT texts), and rep pairs expand
    back to doc pairs afterward: intra-group pairs at hamming 0, cross
    pairs at the representative hamming (exact: members share one text).
    """
    reps, memb = _collapse_exact_dups(documents)
    # persist the (doc_id, simhash) relation — every downstream branch
    # otherwise re-runs the signature pass over all tokens. The
    # signatures come from the Arrow-batched twin (see
    # :func:`simhash_signatures`: interpreted-HOF fold and its
    # filter-on-computed-column double-eval both removed).
    sig = simhash_signatures(reps).persist()
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.expr(f"(simhash >> {16 * c}) & 65535").alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk_val")
    bucket_sizes = chunks.groupBy("chunk_id", "chunk_val").count()
    hot = bucket_sizes.filter(F.col("count") > max_bucket_size).drop("count")
    chunks = chunks.join(F.broadcast(hot), ["chunk_id", "chunk_val"], "left_anti")
    left = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "chunk_id", "chunk_val"
    )
    right = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "chunk_id", "chunk_val"
    )
    rep_pairs = (
        left.join(right, ["chunk_id", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # hamming filter BEFORE the pair-dedup: cuts the distinct's input
        # from every band collision down to the actual near-dup set
        .withColumn("hamming", F.bit_count(F.expr("sim_a ^ sim_b")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .dropDuplicates(["doc_a", "doc_b"])
    )

    dup_reps = (
        memb.filter((F.col("gsize") >= 2) & (F.col("gsize") <= max_bucket_size))
        .select("rep_id")
        .distinct()
        .join(sig.select(F.col("doc_id").alias("rep_id")), "rep_id", "left_semi")
    )
    return _expand_rep_pairs(
        rep_pairs, memb, dup_reps, "hamming", F.lit(0).cast("int")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.2,
    max_block_size: int = 1000,
    assume_unique_texts: bool = False,
) -> DataFrame:
    """Exact token-shingle Jaccard over blocked candidate pairs.

    Blocking key = (lang, source, length bucket): deterministic, SQL-
    expressible (this one has a DuckDB oracle), and keeps the pair count
    linear-ish. The in-block join is O(block²), so ``max_block_size``
    hard-caps it: blocks larger than the cap are excluded from exact
    pairing (same policy as the LSH bucket caps — one boilerplate-heavy
    (lang, source, length) tier of a web corpus would otherwise be a
    disguised cross join). The cap predicate is a plain block-count
    filter, so the DuckDB oracle expresses it too. Oversized blocks
    belong to :func:`minhash_lsh_pairs`, whose banded buckets subdivide
    what this blocking key can't.

    ``assume_unique_texts=True`` is the caller-already-deduped fast path
    (curation exact-dedups before calling): it SKIPS the exact-duplicate
    collapse below — no rep groupBy, no membership joins, no intra-group
    pairs — because with all-distinct texts every collapse group has
    exactly one member, making those three extra shuffles pure overhead.
    Output is identical for genuinely-unique inputs; a caller passing
    duplicate texts under this flag would silently miss the
    jaccard=1.0 intra-duplicate pairs, so only set it right after an
    exact dedup.
    """
    # Collapse exact-duplicate texts FIRST (round-6: the same discipline
    # minhash/simhash got in round 5, after the sf10 probe showed the
    # raw in-block join at 30×/decade on the dup-heavy corpus). The
    # collapse key includes the BLOCK key, not just the text hash: lang/
    # source/n_chars are table columns, so identical texts in different
    # blocks must stay distinct representatives. Shingling and the
    # O(block²) Jaccard then run over DISTINCT (block, text) reps —
    # a text duplicated d times costs d² less — while the doc-level
    # output is reconstructed exactly: cross-group pairs inherit the rep
    # pair's Jaccard (exact — members share one text), intra-group pairs
    # score 1.0 (identical nonempty texts; empty-token groups score 0.0,
    # _jaccard's empty-union value). Block-size cap semantics unchanged:
    # sizes are RAW doc counts (Σ gsize), capped blocks drop entirely.
    base = _parallelize_input(documents).select(
        "doc_id",
        "text",
        "lang",
        "source",
        (F.col("n_chars") / F.lit(64)).cast("int").alias("len_bucket"),
    ).withColumn(
        "text_hash",
        F.concat(
            F.col("text").isNull().cast("int").cast("string"),
            F.md5(F.coalesce(F.col("text"), F.lit(""))),
        ),
    )
    block = ["lang", "source", "len_bucket"]
    if assume_unique_texts:
        # caller guarantees distinct texts: every (block, text_hash)
        # group is a singleton, so each doc is its own representative —
        # no collapse shuffle, and the rep pairs ARE the doc pairs
        sizes = base.groupBy(*block).agg(F.count("*").alias("count"))
        hot = sizes.filter(F.col("count") > max_block_size).drop("count")
        kept = base.join(F.broadcast(hot), block, "left_anti")
        sh = with_shingles(kept, k).select("doc_id", *block, "shingles")
        a = sh.select(
            F.col("doc_id").alias("ra"), *block,
            F.col("shingles").alias("sh_a"),
        )
        b = sh.select(
            F.col("doc_id").alias("rb"), *block,
            F.col("shingles").alias("sh_b"),
        )
        return (
            a.join(b, block)
            .filter(F.col("ra") < F.col("rb"))
            .withColumn("jaccard", _jaccard())
            .filter(F.col("jaccard") >= threshold)
            .select(
                F.col("ra").alias("doc_a"),
                F.col("rb").alias("doc_b"),
                "lang",
                "source",
                "jaccard",
            )
        )
    reps = base.groupBy(*block, "text_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("gsize"),
        F.min_by("text", "doc_id").alias("text"),
    )
    # block-size cap as a broadcast anti-join against the few oversized
    # blocks (≤ n/max_block_size keys by construction) — the corpus never
    # shuffles for the cap
    block_sizes = reps.groupBy(*block).agg(F.sum("gsize").alias("count"))
    hot = block_sizes.filter(F.col("count") > max_block_size).drop("count")
    reps = reps.join(F.broadcast(hot), block, "left_anti")
    sh = (
        with_shingles(reps, k)
        .select("doc_id", *block, "gsize", "shingles")
        .persist()  # both join sides + the intra expansion read it
    )
    memb = base.select("doc_id", *block, "text_hash").join(
        reps.select(
            F.col("doc_id").alias("rep_id"), *block, "text_hash"
        ),
        [*block, "text_hash"],
    ).select("doc_id", "rep_id")
    a = sh.select(
        F.col("doc_id").alias("ra"), *block, F.col("shingles").alias("sh_a")
    )
    b = sh.select(
        F.col("doc_id").alias("rb"), *block, F.col("shingles").alias("sh_b")
    )
    rep_pairs = (
        a.join(b, block)
        .filter(F.col("ra") < F.col("rb"))
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("ra", "rb", "lang", "source", "jaccard")
    )
    cross = (
        rep_pairs.join(
            memb.select(F.col("rep_id").alias("ra"), F.col("doc_id").alias("ma")),
            "ra",
        )
        .join(
            memb.select(F.col("rep_id").alias("rb"), F.col("doc_id").alias("mb")),
            "rb",
        )
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "lang",
            "source",
            "jaccard",
        )
    )
    dup = sh.filter(F.col("gsize") >= 2).select(
        F.col("doc_id").alias("rep_id"),
        "lang",
        "source",
        F.when(F.size("shingles") > 0, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )
    dup_members = memb.join(dup, "rep_id")
    intra = (
        dup_members.select("rep_id", "lang", "source", "jaccard",
                           F.col("doc_id").alias("doc_a"))
        .join(
            dup_members.select("rep_id", F.col("doc_id").alias("doc_b")),
            "rep_id",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "lang", "source", "jaccard")
    )
    return cross.unionByName(intra)


def _span_occurrences(reps: DataFrame, window: int) -> DataFrame:
    """(doc_id, gsize, pos, span_hash) — one row per rolling
    ``window``-token span occurrence across the representative texts.
    One projection builds all window hashes per doc as an array (JVM
    built-ins: transform/sequence/slice/xxhash64 — no UDF), posexplode
    flattens; docs shorter than the window contribute nothing."""
    toks = tokens_col(F.col("text"))
    df = (
        reps.select("doc_id", "gsize", toks.alias("toks"))
        .filter(F.size("toks") >= window)
    )
    span_hashes = F.expr(
        f"transform(sequence(1, size(toks) - {window - 1}), "
        f"i -> xxhash64(concat_ws(' ', slice(toks, i, {window}))))"
    )
    return df.select(
        "doc_id", "gsize", F.posexplode(span_hashes).alias("pos", "span_hash")
    )


def repeated_spans(
    documents: DataFrame,
    window: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring detection: every ``window``-token
    span (stride 1) that occurs in at least ``min_docs`` distinct
    documents, with its occurrence counts and first occurrence.

    This is the substring-level exact dedup of pretraining pipelines
    (document-level dedup misses boilerplate paragraphs, license headers,
    templated passages shared across otherwise-distinct pages). The
    suffix-array formulation is inherently sequential; the Spark-native
    shape is rolling token windows → hash → corpus-wide groupBy:

    - one projection builds all window hashes per doc as an array (JVM
      built-ins: transform/sequence/slice/xxhash64 — no UDF), posexplode
      flattens to (doc_id, pos, span_hash);
    - the exploded relation carries THREE LONGS per window (24 B/row), so
      the one corpus-wide shuffle moves ~24 B × total_tokens regardless
      of text size, and map-side partial aggregation collapses within-doc
      repeats (boilerplate-heavy docs combine before the exchange);
    - spans surviving ``min_docs`` are a small set; their display text is
      recovered AFTER the aggregate by re-slicing only the first-occurrence
      documents (broadcast the survivors, never re-shuffle the corpus).

    At 100 TB: windows/doc ≈ tokens/doc, so the exploded row count equals
    corpus token count — the same asymptotics every production substring
    dedup pays. Knobs that matter at scale and why they're safe here:
    stride >1 on the probe side trades recall for volume (not exposed:
    stride 1 with 24 B rows is affordable up to ~10¹² tokens);
    ``min_docs`` prunes in the final aggregate where partial counts have
    already collapsed. xxhash64 keys (not md5 strings) keep the shuffle
    narrow; a 64-bit collision merging two distinct spans is ~n²/2⁶⁵.

    Like the MinHash/SimHash family, exact duplicate DOCUMENTS are
    collapsed first (md5 group → min-id representative): span extraction
    runs over distinct texts only, and doc/occurrence counts expand back
    through the group sizes — exact-copy docs trivially share every span,
    so on a dup-heavy corpus the uncollapsed formulation explodes the
    survivor set by the duplication factor for zero information. The
    expansion is exact arithmetic, not approximation: a span seen in
    reps {r₁…rₖ} occurs in Σ gsize(rᵢ) distinct docs, and the least
    (doc_id, pos) over all docs equals the least over reps because each
    rep IS its group's min doc_id.

    Output: (span_text, n_docs, n_occurrences, first_doc_id, first_pos),
    first occurrence = lexicographically least (doc_id, pos); pos is
    0-based token offset. Hash-free output keeps the DuckDB oracle exact
    (the oracle computes the same relation directly over all docs).
    """
    reps, memb = _collapse_exact_dups(documents)
    exploded = _span_occurrences(reps, window)
    # stage 1: collapse within-rep repeats — keys (span_hash, rep) are
    # well spread, and map-side partial agg eats boilerplate-heavy docs
    per_rep = exploded.groupBy("span_hash", "doc_id").agg(
        F.min("gsize").alias("gsize"),  # constant per rep; min ≡ the value
        F.count("*").alias("n_occ_rep"),
        F.min("pos").alias("min_pos"),
    )
    # stage 2: per span, expand counts through group sizes
    survivors = (
        per_rep.groupBy("span_hash")
        .agg(
            F.sum("gsize").alias("n_docs"),
            F.sum(F.col("n_occ_rep") * F.col("gsize")).alias("n_occurrences"),
            F.min(F.struct("doc_id", "min_pos")).alias("first"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            "span_hash",
            "n_docs",
            "n_occurrences",
            F.col("first.doc_id").alias("first_doc_id"),
            F.col("first.min_pos").alias("first_pos"),
        )
    )
    # recover display text for the (small) survivor set: broadcast it onto
    # the first-occurrence reps only — the corpus is scanned, not shuffled
    span_text = F.expr(f"concat_ws(' ', slice(toks, first_pos + 1, {window}))")
    out = (
        reps.select(F.col("doc_id").alias("first_doc_id"), "text")
        .join(F.broadcast(survivors), "first_doc_id")
        .select(
            tokens_col(F.col("text")).alias("toks"),
            "n_docs",
            "n_occurrences",
            "first_doc_id",
            "first_pos",
        )
        .select(
            span_text.alias("span_text"),
            "n_docs",
            "n_occurrences",
            "first_doc_id",
            "first_pos",
        )
    )
    memb.unpersist()
    return out


def span_coverage(
    documents: DataFrame,
    window: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document fraction of token positions covered by CROSS-DOCUMENT
    repeated spans (the :func:`repeated_spans` survivors) — the
    "mostly boilerplate" signal that turns span detection into a
    curation decision (filter or down-weight docs above a threshold).

    Scale shape: span occurrences come from the shared exact-dup-collapsed
    explode (:func:`_span_occurrences`); surviving span hashes (a set of
    longs) broadcast back onto the occurrences; covered-token counts use
    an INTERVAL-MERGE union per doc — sort the surviving start positions,
    fold once with ``aggregate`` (all JVM built-ins) — NOT by exploding
    the ``window`` positions of every occurrence, which would multiply
    shuffle volume by the window length. The per-doc state is one sorted
    int array bounded by doc length. Copies inherit their representative's
    coverage through the membership relation (exact: identical text ⇒
    identical spans ⇒ identical coverage).

    Output: (doc_id, n_tokens, covered_tokens, coverage) for every doc;
    coverage = covered/n_tokens rounded to 6 places, NULL for docs with
    NULL text (n_tokens unknown) and for empty docs (0/0).
    """
    reps, memb = _collapse_exact_dups(documents)
    exploded = _span_occurrences(reps, window)
    # survivor decision needs distinct-doc counts with copies expanded —
    # same arithmetic as repeated_spans, reduced to the hash set
    survivor_hashes = (
        exploded.groupBy("span_hash", "doc_id")
        .agg(F.min("gsize").alias("gsize"))
        .groupBy("span_hash")
        .agg(F.sum("gsize").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span_hash")
    )
    starts = (
        exploded.join(F.broadcast(survivor_hashes), "span_hash")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    covered = F.expr(
        f"""aggregate(
            starts,
            struct(CAST(0 AS INT) AS last_end, CAST(0 AS INT) AS total),
            (acc, s) -> struct(
                CAST(greatest(acc.last_end, s + {window}) AS INT) AS last_end,
                CAST(acc.total + greatest(0, s + {window} - greatest(acc.last_end, s)) AS INT) AS total),
            acc -> acc.total)"""
    )
    rep_cov = (
        reps.select("doc_id", F.size(tokens_col(F.col("text"))).alias("n_tokens"))
        .join(starts, "doc_id", "left")
        .select(
            F.col("doc_id").alias("rep_id"),
            "n_tokens",
            F.coalesce(covered, F.lit(0)).alias("covered_tokens"),
        )
    )
    out = (
        memb.select("doc_id", "rep_id")
        .join(rep_cov, "rep_id")
        .select(
            "doc_id",
            "n_tokens",
            F.col("covered_tokens"),
            F.round(
                F.col("covered_tokens")
                / F.when(F.col("n_tokens") > 0, F.col("n_tokens")),
                6,
            ).alias("coverage"),
        )
    )
    return out


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    ``min_shared`` distinct word k-shingles with any benchmark/eval
    document — the leakage check a pretraining pipeline runs before
    training on scraped data.

    Scale shape: the benchmark side is an eval suite (MBs) against a
    corpus of TBs, so its distinct shingle set broadcasts and the corpus
    side never shuffles for the probe — explode corpus shingles, hash
    join against the broadcast set, one groupBy(doc_id) to count hits.
    Benchmark documents themselves are excluded from the output (they
    "contaminate" trivially).
    """
    bench_shingles = (
        with_shingles(benchmark, k)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    bench_ids = benchmark.select("doc_id")
    corpus = with_shingles(_parallelize_input(documents), k).join(
        F.broadcast(bench_ids), "doc_id", "left_anti"
    )
    hits = (
        corpus.select("doc_id", F.explode("shingles").alias("shingle"))
        .join(F.broadcast(bench_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )
    return (
        corpus.select("doc_id", "lang", "source")
        .join(hits, "doc_id", "left")
        .withColumn(
            "n_shared_shingles",
            F.coalesce(F.col("n_shared_shingles"), F.lit(0)).cast("int"),
        )
        .withColumn("is_contaminated", F.col("n_shared_shingles") >= min_shared)
    )


def remove_boilerplate_segments(
    documents: DataFrame,
    segment_tokens: int = 5,
    max_doc_frequency: int = 2,
) -> DataFrame:
    """Cross-document repetition removal (the CCNet/RefinedWeb paragraph
    dedup): split each document into fixed-``segment_tokens`` word
    segments, drop every segment whose distinct-document frequency
    exceeds ``max_doc_frequency`` (nav menus, cookie banners, license
    footers — text repeated across the corpus rather than within a
    topic), and reassemble the surviving segments in order.

    Scale shape: the segment explode is a bounded 1/segment_tokens
    multiple of the token count; doc-frequency is one groupBy on
    md5(segment) (uniform, skew-free); the boilerplate set is by
    definition the high-frequency tail — far smaller than the corpus —
    so it broadcasts and the corpus side anti-joins without shuffling;
    reassembly is one groupBy(doc_id) with an in-group sort bounded by
    the per-doc segment count. Three shuffles total, none all-pairs.
    """
    df = _parallelize_input(documents).withColumn("toks", tokens_col(F.col("text")))
    n_segs = F.expr(f"CAST(ceil(size(toks) / {segment_tokens}.0) AS INT)")
    segs_arr = F.when(F.size("toks") == 0, F.array().cast("array<string>")).otherwise(
        F.expr(
            f"transform(sequence(0, CAST(ceil(size(toks) / {segment_tokens}.0) AS INT) - 1), "
            f"i -> array_join(slice(toks, i * {segment_tokens} + 1, {segment_tokens}), ' '))"
        )
    )
    base = df.select(
        "doc_id", "lang", "source", n_segs.alias("n_segments"), segs_arr.alias("segs")
    ).persist()  # read by the segment explode AND the final doc-level join

    segs = base.select(
        "doc_id", F.posexplode("segs").alias("seg_id", "seg")
    ).withColumn("seg_h", F.md5("seg"))
    # distinct-doc frequency per segment content; the over-threshold set
    # is the boilerplate list — tiny, so it broadcasts for the anti-join
    hot = (
        segs.groupBy("seg_h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > max_doc_frequency)
        .select("seg_h")
    )
    kept = segs.join(F.broadcast(hot), "seg_h", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(seg_id, seg))), "
            "s -> s.seg), ' ')"
        ).alias("text_clean"),
        F.count("*").alias("n_kept"),
    )
    return (
        base.select("doc_id", "lang", "source", "n_segments")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.col("n_segments").cast("int").alias("n_segments"),
            (F.col("n_segments") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def _near_dup_pairs_direct(
    embeddings: DataFrame, threshold: float = 0.35
) -> DataFrame:
    """All-pairs exact scorer over a relation of (mostly) DISTINCT
    vectors — the scoring core of :func:`embedding_near_dup_pairs`,
    which collapses exact duplicates before calling this and re-expands
    membership after (a d-copy group makes d² of every candidate list
    without changing any cosine).

    This is the oracle-checkable baseline: an all-pairs comparison
    (O(n²·dim)); at corpus scale run :func:`embedding_near_dup_lsh`, which
    generates the same survivors from band-bucket candidates instead of a
    cross product. Cosine is rounded to 6 decimals BEFORE thresholding so
    the boundary is engine-reproducible.

    The n² scoring site is a two-phase refine-and-verify (108 s → ~1 s at
    sf0.1, and the only formulation that survived the 10× probe). A
    single 64-term SQL dot product cannot go fast: Spark's codegen never
    splits WITHIN one expression tree, so the unrolled dot compiles to
    one >8 KB method that HotSpot refuses to JIT (measured: 32 terms
    0.3 s, 48 terms 6 s — the knee is DontCompileHugeMethods), and the
    higher-order fold is interpreted. A first cut streamed the
    nested-loop join's pair rows into ``mapInArrow`` — fast at 2 k
    vectors, but a pair row carries BOTH vectors (~1 KB), so 20 k
    vectors meant 200 M pairs ≈ 200 GB through Arrow: the 10× probe hung
    on it. So neither the scoring nor the data movement may be per-pair:

    1. CANDIDATES — the corpus matrix is broadcast ONCE (ids + a dense
       n×dim float64 block — the exact bytes a BroadcastNestedLoopJoin's
       BuildRight would ship; an O(n²) exact scorer is only tractable
       while this fits an executor, which is the same bound, and beyond
       it the scale path is :func:`embedding_near_dup_lsh`). Each
       partition of the streamed side scores its rows against the whole
       corpus with blocked numpy matmuls and keeps (id_a < id_b) pairs
       with ``cos >= threshold - MARGIN``, emitting ids only — data
       movement is O(n) in, O(true pairs) out. The margin makes this
       phase unable to drop a true pair: passing the exact test means
       round6(cos_spark) >= t, i.e. cos_spark >= t - 5e-7 (HALF_UP),
       and |cos_numpy - cos_spark| <= ~1e-13 (both are within dim·ulp
       of the real value; Cauchy-Schwarz bounds the term sum; BLAS
       reassociation shifts nothing anywhere near 1e-6), so cos_numpy >
       t - MARGIN. Numpy floats never reach the output.
    2. VERIFY — candidates (≈ the true pair count) join back to the
       vectors and the PROVEN interpreted fold (similarity.COS_EXPR, the
       expression the DuckDB oracle is bit-matched against) computes the
       exact rounded cosine and applies the exact threshold. False
       candidates die here; survivors carry fold-exact values.

    The streamed side is repartitioned to the session parallelism first:
    a small parquet scan yields 1-2 partitions and the n² scoring work
    is proportional to streamed rows.
    """
    from .similarity import COS_EXPR, _as_double

    MARGIN = 1e-6
    spark = embeddings.sparkSession
    # NULL embeddings can never pair (the fold yields NULL → dropped);
    # drop them before the matrix build, where a None would make
    # np.array raise instead
    df = _as_double(embeddings, "embedding", "v").filter(F.col("v").isNotNull())

    # the EXACT scorer broadcasts the whole corpus matrix to every
    # executor — O(n²) by definition, bounded by executor memory. Round
    # 10 makes the boundary ENFORCED rather than documented: the collect
    # is capped at CAP+1 rows (the limit bounds what the driver ever
    # materializes — no extra probe job at normal scale) and overflowing
    # it raises an error that names the scale path.
    EXACT_CORPUS_CAP = 2_000_000
    corpus = df.select("vec_id", "v").limit(EXACT_CORPUS_CAP + 1).toPandas()
    if len(corpus) > EXACT_CORPUS_CAP:
        raise ValueError(
            "embedding_near_dup's exact scorer is O(n²) and broadcasts "
            f"the full corpus matrix; more than {EXACT_CORPUS_CAP} "
            "vectors exceed the executor-fit cap — use "
            "embedding_near_dup_lsh (banded candidates, id-only "
            "shuffles) at this scale"
        )
    if len(corpus) == 0:
        cand = spark.createDataFrame([], "id_a long, id_b long")
    else:
        import numpy as np

        b_ids = corpus["vec_id"].to_numpy(dtype="int64")
        b_mat = np.array(corpus["v"].to_list(), dtype="float64")
        b_norm = np.sqrt(np.einsum("ij,ij->i", b_mat, b_mat))
        bcast = spark.sparkContext.broadcast((b_ids, b_mat, b_norm))

        floor = float(threshold) - MARGIN
        par = spark.sparkContext.defaultParallelism
        a = df.select(F.col("vec_id").alias("id_a"), F.col("v").alias("qv"))
        a = a.repartition(par)

        def _score(batches):
            # 32 concurrent workers each defaulting to an ncpu-thread
            # OpenBLAS pool oversubscribe the box ~64×: this pass swung
            # 0.9 s ↔ 15 s run-to-run until pinned to one BLAS thread
            # per worker (the partition grid already uses every core).
            # Env var covers a fresh worker; the ctypes call covers a
            # reused worker whose numpy (bundled OpenBLAS) is loaded.
            import ctypes
            import glob
            import os

            os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
            import numpy as np
            import pyarrow as pa

            for _so in glob.glob(
                os.path.dirname(np.__file__) + ".libs/*openblas*"
            ):
                try:
                    _lib = ctypes.CDLL(_so)
                    _set = getattr(
                        _lib, "openblas_set_num_threads64_", None
                    ) or getattr(_lib, "openblas_set_num_threads", None)
                    if _set is not None:
                        _set(1)
                except OSError:
                    pass

            ids_b, mat_b, norm_b = bcast.value
            n_corpus = len(ids_b)
            # block the streamed rows so the cosine block stays ~256 MB
            # regardless of corpus size
            block = max(1, (1 << 25) // max(n_corpus, 1))
            for batch in batches:
                tbl = pa.Table.from_batches([batch])
                ids_a = np.asarray(tbl.column("id_a")).astype("int64")
                q = np.asarray(
                    tbl.column("qv").combine_chunks().flatten()
                ).reshape(len(ids_a), -1)
                qn = np.sqrt(np.einsum("ij,ij->i", q, q))
                for s in range(0, len(ids_a), block):
                    qb = q[s : s + block]
                    ib = ids_a[s : s + block]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = (qb @ mat_b.T) / (
                            qn[s : s + block, None] * norm_b[None, :]
                        )
                    # nan cosines stay CANDIDATES — the exact phase, not
                    # numpy, decides them: a zero-norm pair folds to NULL
                    # there (nullif guard) and is dropped, while a vector
                    # with a NaN COMPONENT folds to NaN, and Spark/DuckDB
                    # order NaN above every number, so `NaN >= t` keeps
                    # the pair — dropping it here would break the
                    # "cannot drop a true pair" invariant.
                    mask = ((cos >= floor) | np.isnan(cos)) & (
                        ib[:, None] < ids_b[None, :]
                    )
                    ra, rb = np.nonzero(mask)
                    if len(ra):
                        yield pa.RecordBatch.from_arrays(
                            [pa.array(ib[ra]), pa.array(ids_b[rb])],
                            ["id_a", "id_b"],
                        )

        cand = a.mapInArrow(_score, "id_a long, id_b long")
    va = df.select(F.col("vec_id").alias("id_a"), F.col("v").alias("qv"))
    vb = df.select(F.col("vec_id").alias("id_b"), F.col("v").alias("cv"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(F.expr(COS_EXPR), 6))
        .filter(F.col("cosine") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("id_a").alias("keep_id"),
            "cosine",
        )
    )


def _collapse_exact_vectors(embeddings: DataFrame):
    """``(groups, memb, reps)`` for exact-vector collapse — the shared
    first step of the embedding near-dup family. ``groups`` is one row
    per distinct embedding (bit equality) with its min-id representative
    and copy count; ``memb`` maps every vec_id to its rep (NULL
    embeddings drop out here — the equi-join never matches NULL — so
    they can never appear in an expansion, matching the scorer's
    isNotNull drop); ``reps`` is the distinct-vector relation the
    scorers run on."""
    groups = embeddings.groupBy("embedding").agg(
        F.min("vec_id").alias("rep_id"), F.count("*").alias("gsize")
    )
    memb = (
        embeddings.select("vec_id", "embedding")
        .join(groups.select("embedding", "rep_id", "gsize"), "embedding")
        .select("vec_id", "rep_id", "gsize")
    )
    reps = groups.select(F.col("rep_id").alias("vec_id"), "embedding")
    return groups, memb, reps


def _self_pairing_reps(groups: DataFrame, threshold: float) -> DataFrame:
    """(rep_id, cosine) for multi-copy groups whose members genuinely
    PAIR with each other: round6(cosine(v, v)) >= threshold via the same
    fold as every other exact cosine. Zero-norm vectors fold to NULL and
    are excluded (two zero vectors have no defined cosine — the direct
    scorer drops that pair too); vectors with NaN components fold to NaN,
    which Spark orders above every number, so they stay — again matching
    the direct scorer."""
    from .similarity import COS_EXPR, _as_double

    return (
        _as_double(groups.filter(F.col("gsize") >= 2), "embedding", "v")
        .withColumn("qv", F.col("v"))
        .withColumn("cv", F.col("v"))
        .withColumn("cosine", F.round(F.expr(COS_EXPR), 6))
        .filter(F.col("cosine") >= threshold)
        .select("rep_id", "cosine")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.35
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT: every (a, b) with
    ``a.vec_id < b.vec_id`` and ``cosine(a, b) >= threshold``, plus the
    pair's dedup-cluster representative (the lower id — the row a
    keep-one-per-cluster pass would retain). This is the oracle-checkable
    baseline: semantically an all-pairs comparison (O(n²·dim)); at corpus
    scale run :func:`embedding_near_dup_lsh`.

    Collapse-first: only DISTINCT vectors are scored
    (:func:`_near_dup_pairs_direct` — broadcast-corpus blocked matmuls
    with a margin pre-filter, then the proven fold expression on
    candidates). Member pairs inherit their representatives' fold-exact
    cosine — members share the reps' exact bytes, and the fold is a pure
    function of the two vectors — so the expansion is bit-identical to
    scoring every pair directly. A d-copy group otherwise multiplies the
    candidate list by d² without changing a single cosine: at the
    100×-duplicated probe corpus the direct form ran 51 M verify folds
    (334 s); this form runs ~6 k and re-expands (the ~51 M OUTPUT rows
    are the contract — they carry 24-byte ids+cosine, not vectors).
    Expansion orientation is by member id (``least``/``greatest``), and
    intra-group pairs carry the group's self-cosine (cosine(v, v) via the
    same fold — ≥ any threshold ≤ 1 after rounding; zero-norm vectors
    stay null → dropped, matching the direct form).
    """
    groups, memb, reps = _collapse_exact_vectors(embeddings)
    rep_pairs = _near_dup_pairs_direct(reps, threshold)
    selfs = _self_pairing_reps(groups, threshold)
    ma = memb.select(F.col("rep_id").alias("ra"), F.col("vec_id").alias("va"))
    mb = memb.select(F.col("rep_id").alias("rb"), F.col("vec_id").alias("vb"))
    cross = (
        rep_pairs.join(ma, F.col("id_a") == F.col("ra"))
        .join(mb, F.col("id_b") == F.col("rb"))
        .select(
            F.least("va", "vb").alias("id_a"),
            F.greatest("va", "vb").alias("id_b"),
            "cosine",
        )
    )
    intra = (
        selfs.join(ma, F.col("rep_id") == F.col("ra"))
        .join(mb, F.col("rep_id") == F.col("rb"))
        .filter(F.col("va") < F.col("vb"))
        .select(F.col("va").alias("id_a"), F.col("vb").alias("id_b"), "cosine")
    )
    return cross.unionByName(intra).select(
        "id_a", "id_b", F.col("id_a").alias("keep_id"), "cosine"
    )


def embedding_near_dup_clusters(
    embeddings: DataFrame, threshold: float = 0.35
) -> DataFrame:
    """Connected components over EXACT embedding near-dup pairs —
    collapse-first: bit-identical vectors always pair at cosine 1.0, so a
    d-copy group is a clique contributing d²/2 of the edge list while
    adding nothing to the component structure. Resolving over one
    representative per distinct vector and re-expanding membership gives
    the IDENTICAL (member_id, cluster_id) result (cluster_id is the min
    member id; each rep is its group's min, so the component min over
    reps is the min over all members) while the iterative resolution
    touches |distinct| nodes instead of |corpus| — at the 10×-duplicated
    probe corpus the full-graph resolve was 16 s over 503 k edges vs
    ~4 k rep-level edges here. Same collapse argument as
    ``embedding_near_dup_lsh``'s adaptive path and the MinHash family's
    ``_collapse_exact_dups``.

    Membership: a group of ≥2 copies is a cluster even when its rep pairs
    with no other rep (its members pair with each other — gated on the
    group's SELF-pair actually existing: a duplicated zero-norm vector
    has a NULL self-cosine, so its members pair with nothing and must
    not become a cluster); a unique vector joins a cluster only through
    a rep-level pair — exactly the node set
    ``resolve_clusters(embedding_near_dup_pairs(...))`` emits.
    """
    groups, memb, reps = _collapse_exact_vectors(embeddings)
    comp = resolve_clusters(_near_dup_pairs_direct(reps, threshold))
    eligible = _self_pairing_reps(groups, threshold).select(
        F.col("rep_id").alias("erep"), F.lit(True).alias("self_ok")
    )
    return (
        memb.join(comp, memb["rep_id"] == comp["member_id"], "left")
        .join(eligible, memb["rep_id"] == F.col("erep"), "left")
        .withColumn(
            "cluster",
            F.coalesce(
                F.col("cluster_id"),
                F.when(F.col("self_ok"), F.col("rep_id")),
            ),
        )
        .filter(F.col("cluster").isNotNull())
        .select(
            F.col("vec_id").alias("member_id"),
            F.col("cluster").alias("cluster_id"),
        )
    )


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_planes: int | None = None,
    n_bands: int = 8,
    max_bucket_size: int = 2000,
    collapse_exact: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup, LSH-bucketed (the 100 TB path): candidate
    pairs must share at least one random-hyperplane band; exact rounded
    cosine then thresholds the candidates. Same output schema as
    :func:`embedding_near_dup_pairs`; precision is 1.0 (candidates pass the
    exact threshold) and recall < 1 by design.

    Geometry drives the cost/recall trade: with r bits per band the
    per-band bucket count is 2^r, so candidate volume scales ~ B·n²/2^r —
    r must exceed log2(sqrt(n)) for subquadratic behavior, WHICH MEANS r
    IS A FUNCTION OF n, not a constant: the r=6 that flies at n=2 000
    (64 buckets/band) ground to a halt at a 10× corpus, measured, because
    per-band candidate volume grows as n²/2^r. Default geometry is
    therefore adaptive — r = max(6, ceil(log2(n)/2) + 2) from a
    metadata-only count() of the input — pass ``n_planes`` to pin it.
    Recall per pair at cosine c is 1-(1-(1-θ/π)^r)^B with θ=arccos(c):
    high for true near-dups (c ≥ 0.85), intentionally low for
    barely-similar pairs; the synthetic test corpus tops out at cosine
    ≈ 0.5, where recall is partial — asserted explicitly in tests.

    ``collapse_exact=True`` additionally collapses bit-identical
    embeddings (re-crawled pages through the same encoder) to one
    representative before banding, mirroring the text near-dup paths,
    and expands rep pairs back through the long-keyed membership with
    intra-group pairs at cosine 1.0 (zero-norm groups excluded — their
    cosine is undefined, matching the null-filtered cross path). The
    default (``None``) decides ADAPTIVELY from two metadata-cheap
    aggregates (count + approx-distinct vector hash): unlike MinHash
    (where collapsing saves the interpreted per-doc shingle folds
    unconditionally, 33.7 s → 6 s), the embedding signature is already
    one cheap Arrow-batched matmul, so at a 10×-duplicated 20 k corpus
    the collapse's extra vector-keyed shuffles cost MORE than they save
    (5.2 s → 7.0 s) — but the d² candidate flood of identical-signature
    groups always wins eventually: at a 100×-duplicated 200 k corpus the
    direct path ground to 171 s vs 13 s collapsed, measured. The auto
    rule (collapse when n · dup_factor ≥ 2 M) picks the measured winner
    at both points; pass an explicit bool to pin it. Recall note: at the 10×-dup
    corpus the collapse mode also emits the 41 900 identical-vector
    pairs that the direct path's bucket cap drops (163 400 vs 121 500);
    those dropped pairs are exactly the exact-dup floods that
    ``exact_dedup_clusters`` owns in the composed pipeline, so the
    default remains complete AT THE PIPELINE LEVEL either way.

    Cost shape: one pass for signatures, shuffle on (band_id, band_bits),
    per-pair scoring is one Arrow-batched numpy einsum (per-vector norms
    precomputed, cosine = dot/(norm_a·norm_b)).
    """
    import math

    from .similarity import with_lsh_bands

    n_reps_hint: int | None = None
    if collapse_exact is None:
        # adaptive default, same spirit as the adaptive geometry: identical
        # vectors share identical signatures, so a group of d copies floods
        # its band buckets with d²/2 candidate pairs no matter how large r
        # is — the collapse's fixed extra shuffles win once n·dup_factor is
        # big enough for that d² flood to dominate. Measured crossover:
        # direct wins at n=20k/dup=10 (5.2 s vs 7.0 s), collapse wins 12.7×
        # at n=200k/dup=100 (171 s vs 13 s). Both statistics come from ONE
        # aggregation job (a single scan of the input — and only the
        # vec-hash column survives the scan's projection); the same job's
        # counts also pre-answer the geometry sizing below, so the
        # adaptive default costs exactly one scan, not three.
        stats = embeddings.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(F.xxhash64("embedding")).alias("d"),
        ).head()
        n_total = stats["n"]
        n_distinct = max(stats["d"], 1)
        dup_factor = n_total / n_distinct
        collapse_exact = n_total * dup_factor >= 2_000_000
        # approx-distinct (~2% err) is plenty for log2-grid geometry sizing
        n_reps_hint = n_distinct if collapse_exact else n_total

    if collapse_exact:
        # exact-dup collapse: grouping on the raw float array is exact-bit
        # equality — precisely what "same encoder output" means
        reps_g = embeddings.groupBy("embedding").agg(
            F.min("vec_id").alias("vec_id"), F.count("*").alias("gsize")
        )
        memb = (
            embeddings.select("vec_id", "embedding")
            .join(
                reps_g.select(F.col("vec_id").alias("rep_id"), "embedding", "gsize"),
                "embedding",
            )
            # _expand_rep_pairs is generic over the (doc_id, rep_id) names
            .select(F.col("vec_id").alias("doc_id"), "rep_id", "gsize")
            .persist()
        )
        reps = reps_g.select("vec_id", "embedding")
    else:
        memb = None
        reps = embeddings

    if n_planes is None:
        # geometry sizes to the count of the relation the band join sees
        n = n_reps_hint if n_reps_hint is not None else reps.count()
        rows = max(6, math.ceil(math.log2(max(n, 2)) / 2) + 2)
        n_planes = n_bands * rows
    rows = n_planes // n_bands
    norm_expr = (
        "sqrt(aggregate(transform(ev, x -> x * x), CAST(0.0 AS DOUBLE), (s, v) -> s + v))"
    )
    # persist the (vec, norm, band keys) relation ONCE — five downstream
    # branches (bucket sizing, both join sides, two vector re-joins) would
    # otherwise re-run the signature matmul each. At cluster scale this is
    # a materialized signatures table between stages.
    sig = (
        with_lsh_bands(reps, n_bands, rows)
        .withColumn("nrm", F.expr(norm_expr))
        .select("vec_id", "ev", "nrm", "lsh_bands")
        .persist()
    )
    bands = sig.select(
        "vec_id", F.posexplode("lsh_bands").alias("band_id", "band_bits")
    )

    # hot-bucket cap (same policy as the MinHash/SimHash paths): anti-join
    # against the few over-cap keys, so the bands relation never shuffles
    # for the cap itself
    bucket_sizes = bands.groupBy("band_id", "band_bits").count()
    hot = bucket_sizes.filter(F.col("count") > max_bucket_size).drop("count")
    capped = bands.join(F.broadcast(hot), ["band_id", "band_bits"], "left_anti")

    # candidates carry ONLY ids through the band join and the pair-dedup —
    # shipping the 64-dim vectors through that shuffle was measured at
    # ~1 KB/row × millions of band collisions; the vectors join back by id
    # AFTER dropDuplicates, exactly like the minhash shingle re-join
    a = capped.select(F.col("vec_id").alias("id_a"), "band_id", "band_bits")
    b = capped.select(F.col("vec_id").alias("id_b"), "band_id", "band_bits")
    cand = (
        a.join(b, ["band_id", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vec = sig.select("vec_id", "ev", "nrm")
    pairs = cand.join(
        vec.select(
            F.col("vec_id").alias("id_a"),
            F.col("ev").alias("qv"),
            F.col("nrm").alias("nrm_a"),
        ),
        "id_a",
    ).join(
        vec.select(
            F.col("vec_id").alias("id_b"),
            F.col("ev").alias("cv"),
            F.col("nrm").alias("nrm_b"),
        ),
        "id_b",
    )

    # pair scoring is a batched numpy dot (one einsum per Arrow batch) —
    # the interpreted zip_with fold costs ~64 lambda evals per pair and
    # dominated the runtime at millions of candidates. Refine-and-verify
    # makes it SQL-mirrorable: a pair whose einsum cosine sits within the
    # reassociation-error margin of a 0.5e-6 rounding boundary (the only
    # place einsum-vs-fold could change the ROUNDED value downstream) is
    # re-scored by the exact sequential fold, so the double that reaches
    # round() is bit-identical to what DuckDB's list_reduce divides.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(qv, cv, denom):
        # self-contained: imports inside, no module globals
        import numpy as np
        import pandas as pd

        q = np.stack(qv.to_numpy())
        c = np.stack(cv.to_numpy())
        dots = np.einsum("ij,ij->i", q, c)
        dn = denom.to_numpy(dtype="float64")
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(dn != 0.0, dots / dn, np.nan)
        # distance of cos*1e6 to the nearest half-integer; flip risk only
        # inside ~1.4e-14 (dim*eps) — 1e-10 is a 7000x-wide guard
        frac = np.abs(cos * 1e6 - np.floor(cos * 1e6) - 0.5)
        amb = np.isfinite(cos) & (frac * 1e-6 <= 1e-10)
        for i in np.nonzero(amb)[0]:
            s = 0.0  # the SQL fold, op for op
            for x, y in zip(q[i], c[i]):
                s = s + x * y
            dots[i] = s
        return pd.Series(dots)

    scored = pairs.withColumn(
        "cosine",
        F.round(
            _dot(F.col("qv"), F.col("cv"), F.col("nrm_a") * F.col("nrm_b"))
            / (F.col("nrm_a") * F.col("nrm_b")),
            6,
        ),
    ).filter(F.col("cosine") >= threshold)
    if memb is None:
        return scored.select(
            "id_a", "id_b", F.col("id_a").alias("keep_id"), "cosine"
        )
    # expand rep pairs to vec pairs; intra-group = identical vectors at
    # cosine exactly 1.0, except zero-norm groups (undefined cosine)
    rep_pairs = scored.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "cosine"
    )
    dup_reps = (
        memb.filter((F.col("gsize") >= 2) & (F.col("gsize") <= max_bucket_size))
        .select("rep_id")
        .distinct()
        .join(
            sig.filter(F.col("nrm") > 0).select(F.col("vec_id").alias("rep_id")),
            "rep_id",
            "left_semi",
        )
    )
    return (
        _expand_rep_pairs(rep_pairs, memb, dup_reps, "cosine", F.lit(1.0))
        .select(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            F.col("doc_a").alias("keep_id"),
            "cosine",
        )
    )


def resolve_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (member_id, cluster_id)
    with cluster_id = min member id. Transitive chains (a~b, b~c) resolve
    to ONE cluster even though (a,c) was never compared.

    Iterative min-label propagation WITH pointer jumping: each round
    (1) every node adopts the smallest label among itself and its
    neighbors, then (2) every node re-points to its label's label (path
    halving). The jump step is what makes convergence logarithmic — a
    length-n chain needs ~log2(n) rounds, not n (measured: 271-pair
    corpus went from ~11 rounds / 87s to 3 rounds). Each round is two
    shuffles (groupBy node, self-join on label). localCheckpoint()
    truncates the growing lineage so round N's plan doesn't replay
    rounds 1..N-1 — THE classic Spark iterative-algorithm trap. The
    driver only sees a 1-scalar convergence flag per round, never data.
    """
    from pyspark.sql import Observation

    from .quality import observed_metric

    # materialize the edge list ONCE — `pairs` is typically an expensive
    # candidate-generation plan (LSH join / all-pairs cosine); without
    # this every iteration replays it from scratch (measured 8× of the
    # total runtime on the embedding near-dup input). Both directions
    # come from ONE pass via explode: the former two-branch union
    # referenced `pairs` twice, so the whole candidate/verify subtree
    # executed twice inside this checkpoint (measured ~2× the scorer
    # cost on the embedding pair graph).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        # seed with the NEIGHBORHOOD min, not the identity: with identity
        # labels the first loop round's neighbor join can only reproduce
        # exactly this aggregate (neighbor labels ARE neighbor ids at
        # round 1), so folding it into the init saves one full round —
        # same fixpoint, measured one checkpoint barrier less. Every node
        # of the bidirectional edge list appears as src, so the node set
        # is unchanged.
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .withColumnRenamed("src", "node")
        # materialized so every round's plan is the SAME constant shape
        # over LogicalRDD leaves — also what keeps the fused self-join
        # checkpoint below off the Spark 4.1 Catalyst attribute-dedup
        # bug (checkpointing a self-join over a deep unmaterialized
        # subtree tripped NoSuchElementException in the round-5 form;
        # over LogicalRDD leaves it is fine, tested)
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_labels = edges.join(
            labels, edges["dst"] == labels["node"]
        ).select(F.col("src").alias("node"), "label")
        stepped = (
            labels.select("node", "label")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: node -> label(label(node)). A label is always
        # an existing node id, so the self-join is total.
        jumped = (
            stepped.alias("x")
            .join(
                stepped.select(
                    F.col("node").alias("l_node"), F.col("label").alias("l_label")
                ),
                F.col("x.label") == F.col("l_node"),
            )
            .select(F.col("x.node").alias("node"), F.col("l_label").alias("label"))
        )
        # second jump per round — compose the once-jumped map with
        # itself (node -> label⁴(node)): one extra NODE-sized join is far
        # cheaper than another full round (edges-sized neighbor join +
        # checkpoint barrier), and pointer depth now quarters per round
        # instead of halving — measured 7 rounds -> 4 on the embedding
        # pair graph. Fixpoint unchanged: jumping only follows existing
        # pointers within the component, and the loop still terminates
        # on a no-change round.
        jumped = (
            jumped.alias("x")
            .join(
                jumped.select(
                    F.col("node").alias("l_node"), F.col("label").alias("l_label")
                ),
                F.col("x.label") == F.col("l_node"),
            )
            .select(F.col("x.node").alias("node"), F.col("l_label").alias("label"))
        )
        # min-step + jump + changed-flag fused into ONE checkpointed
        # frame, and the convergence COUNT folded into the same action
        # as an observed metric: each round used to pay a checkpoint job
        # plus a filter-count job over the materialized rows — the
        # Observation rides the checkpoint's own execution (verified:
        # localCheckpoint(eager=True) runs through withAction, so
        # observed metrics fire), leaving exactly ONE job per round.
        # The driver still only ever sees a 1-scalar flag, never data.
        obs = Observation()
        flagged = (
            jumped.alias("n")
            .join(
                labels.select(
                    F.col("node").alias("o_node"),
                    F.col("label").alias("o_label"),
                ),
                F.col("n.node") == F.col("o_node"),
            )
            .select(
                F.col("n.node").alias("node"),
                F.col("n.label").alias("label"),
                (F.col("n.label") != F.col("o_label")).alias("__chg"),
            )
            .observe(obs, F.sum(F.col("__chg").cast("long")).alias("n_chg"))
            .localCheckpoint(eager=True)
        )
        changed = observed_metric(obs, "n_chg") or 0
        labels = flagged.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        # exhausting the loop means the labels are NOT a fixed point —
        # silently returning them would hand callers wrong clusters with
        # no signal. Pointer jumping converges in ~log2(longest chain)
        # rounds, so hitting this with the default budget indicates a
        # pathological component; the caller should raise max_iterations.
        raise RuntimeError(
            f"resolve_clusters did not converge within {max_iterations} "
            "iterations; results would be incorrect — increase max_iterations"
        )
    return labels.select(
        F.col("node").alias("member_id"), F.col("label").alias("cluster_id")
    )
