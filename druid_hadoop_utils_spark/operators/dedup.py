"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for 100 TB corpora:

- exact dedup shuffles a 16-byte hash, never the document text;
- MinHash-LSH is the classic shingle → minhash signature → banded bucket →
  bucket self-join pipeline: candidate generation is a single shuffle on
  (band, band-hash) keys, and only candidate PAIRS (a tiny set) ever get
  exact verification — no all-pairs cross join anywhere;
- SimHash blocks on signature chunks (pigeonhole: hamming distance ≤ k
  → some chunk of k+1 matches exactly) — again a hash-key shuffle;
- all hashing is xxhash64 with explicit seeds → fully deterministic.

Only the small-data oracle path (`ngram_jaccard_pairs` with
``blocking=False``) is allowed to cross-join; it exists to verify the LSH
path's recall on test scales.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.operators.text import tokens


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure CPU-heavy per-row stages (signature computation) get the
    cluster's full parallelism even when the input is a few big/small
    files. A round-robin repartition of the already-projected columns —
    cheap relative to the per-row hashing it unlocks; no-op when the scan
    is already wide enough."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # width heuristic from driver-side file metadata: len(inputFiles) costs
    # no job, unlike df.rdd.getNumPartitions() which forces a full plan
    # conversion per call
    try:
        width = len(df.inputFiles())
    except Exception:
        width = 0
    if width >= target:
        return df
    return df.repartition(target)


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str,
                tie_break: str | None = None) -> DataFrame:
    """Keep one row per distinct key (lowest ``id_col``; optional extra
    tie-break column first). Hash-groupBy — one shuffle on md5(key)."""
    order = [F.col(tie_break)] if tie_break else []
    w = Window.partitionBy(*[F.md5(F.col(c).cast("string")) for c in key_cols]).orderBy(
        *order, F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_groups(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Per distinct key: surviving id + duplicate count (oracle-friendly)."""
    # \x00 null sentinel: concat_ws SKIPS nulls, which would collapse
    # (null,'x') with ('x',null) and null with '' — the \x01 separator
    # alone keeps value boundaries, the sentinel keeps nulls distinct
    key_hash = F.md5(F.concat_ws(
        "\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key_cols]
    ))
    return df.groupBy(key_hash.alias("key_hash")).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("dup_count")
    )


# ------------------------------------------------------------- shingles

def _shifted_ngrams(parts: Column, num: Column, n: int, sep: str) -> Column:
    """n-grams as an element-wise join of ``n`` shifted slices of
    ``parts``. Each slice evaluates ``parts`` ONCE per row — an expression
    referenced INSIDE a higher-order-function lambda re-evaluates per
    element, which made the previous transform-over-positions shingle
    formulation O(n²) per document (same fix as winnowing_fingerprints).
    zip_with pads the shorter shifted slices with null and concat_ws skips
    nulls, reproducing the old short-text edge (one gram of however many
    parts fit)."""
    from functools import reduce

    shifted = [F.slice(parts, j + 1, num) for j in range(n)]
    grams = reduce(
        lambda a, b: F.zip_with(a, b, lambda x, y: F.concat_ws(sep, x, y)),
        shifted,
    )
    # empty input → one empty-string gram (the historical contract: keeps
    # downstream jaccard/minhash total — no ANSI division-by-zero, no null
    # signatures for empty documents)
    return F.when(F.size(grams) == 0, F.array(F.lit(""))).otherwise(grams)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (built-ins only,
    linear in document length). An empty or blank document has the one
    shingle ``""``, so its signatures and Jaccard similarities are
    defined."""
    toks = tokens(col)
    num = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.array_distinct(_shifted_ngrams(toks, num, n, " "))


def char_shingles(col: Column | str, n: int = 5) -> Column:
    """Distinct character n-gram shingles (lowercased, linear in document
    length: the string lowers and splits to characters once instead of
    re-lowering per gram position)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    chars = F.split(c, "")
    num = F.greatest(F.length(c) - (n - 1), F.lit(1))
    return F.array_distinct(_shifted_ngrams(chars, num, n, ""))


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


# ------------------------------------------------------------- minhash

def minhash_signature(shingles: Column, num_hashes: int = 64, seed: int = 42) -> Column:
    """MinHash signature: for each of ``num_hashes`` seeded xxhash64
    functions, the min hash over the shingle set. Pure expression — no UDF,
    no shuffle. NOTE: array lambdas are interpreted; the bulk path
    ``minhash_table`` computes identical signatures in codegen."""
    mins = [
        F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(seed + i))))
        for i in range(num_hashes)
    ]
    return F.array(*mins)


def minhash_table(
    shingled: DataFrame,
    id_col: str = "__id",
    shingle_col: str = "__sh",
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, signature) via explode → per-seed min hash aggregates — the
    codegen'd bulk twin of ``minhash_signature`` (identical values, pinned
    by tests). One shuffle on the id."""
    exploded = shingled.select(
        F.col(id_col), F.explode(F.col(shingle_col)).alias("__s")
    )
    # expr-string construction: 64 Column-API min(xxhash64(...)) aggs
    # cost ~0.4 s of py4j round-trips per query (round 11); the int
    # literal seed column matches F.lit's IntegerType, so the hashes
    # (and the plan) are identical
    mins = [
        F.expr(f"min(xxhash64(__s, {seed + i})) AS __m{i}")
        for i in range(num_hashes)
    ]
    agged = exploded.groupBy(id_col).agg(*mins)
    safe_id = "`" + id_col.replace("`", "``") + "`"
    arr = ", ".join(f"__m{i}" for i in range(num_hashes))
    return agged.selectExpr(safe_id, f"array({arr}) AS signature")


def _bucket_pairs(
    banded: DataFrame,
    key_cols: list[str],
    member: Column,
    max_bucket_size: int | None,
) -> DataFrame:
    """Unordered within-bucket member pairs — (a, b) with a < b in the
    member's natural order, each bucket deterministically truncated to
    its ``max_bucket_size`` LOWEST members first.

    One aggregate collects each bucket into a sorted array; the pairs
    then unfold map-side from the array. This keeps the r15 win over
    the r1–r14 shape (row_number window cap + bucket SELF-JOIN, which
    made the banded relation a two-consumer plan node — Catalyst
    duplicated the ENTIRE upstream signature pipeline once per join
    side: plans/r15/q_dedup_simhash_before.txt shows two full parquet
    scans and two signature aggregates for one query). The upstream
    runs ONCE; one exchange on the bucket key.

    Memory bounds (r16, closing the two r15 degenerate-corpus holes):

    - the cap applies BEFORE the aggregation: a row_number window over
      the same exchange (same key ⇒ no extra shuffle; the window's sort
      is spillable) truncates each bucket to its ``max_bucket_size``
      lowest members, so the collect_list buffer holds at most the cap
      — the r15 shape aggregated the ENTIRE bucket into one in-memory
      buffer and only then sliced, unbounded exactly for the
      adversarial corpora the cap exists for;
    - the pairs unfold in two generator steps — posexplode to
      (member, position), then explode of the per-position suffix
      slice — so no evaluated array ever exceeds O(cap) elements. The
      r15 single-expression unfold (flatten(transform(...))) evaluated
      the full O(cap²) pair array per bucket in one allocation
      (~5e7 structs at the default cap; GBs for struct members).

    With ``max_bucket_size=None`` the window is skipped and the buffer
    is O(bucket) — callers disabling the cap accept quadratic pair
    volume anyway, which dwarfs the buffer.

    Self-pairs: positional pairing over the sorted array pairs strictly
    later positions, and equal members sort adjacently, so an id that
    appears twice in one bucket WOULD emit (x, x); the trailing
    ``a < b`` filter drops those, restoring the r14 join-condition
    semantics (callers with unique ids per bucket are unaffected).
    """
    if max_bucket_size is not None:
        w = Window.partitionBy(*key_cols).orderBy(member)
        banded = (
            banded.withColumn("__bn", F.row_number().over(w))
            .where(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    buckets = banded.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(member)).alias("__members")
    )
    # two-step unfold: each posexplode row carries (position, member,
    # the capped array); the second generator evaluates only the suffix
    # slice for that position — peak per-row memory O(cap), not O(cap²)
    return (
        buckets.select(
            F.col("__members"),
            F.posexplode("__members").alias("__i", "a"),
        )
        .select(
            "a",
            F.explode(
                F.expr("slice(__members, __i + 2, size(__members))")
            ).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    signature_col: str = "signature",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Banded LSH: hash each band of the signature; documents sharing any
    band bucket become a candidate pair.

    Plan shape: explode bands (xN map-side) → ONE shuffle on the band
    bucket key collecting each bucket's ids → map-side pair unfold →
    distinct pairs (``_bucket_pairs``). No cross join at any scale, and
    the signature pipeline feeding this is consumed exactly once.

    ``max_bucket_size`` bounds the within-bucket pair volume against
    degenerate corpora (thousands of near-identical docs landing in one
    band bucket would make that bucket quadratic): buckets above the cap
    are deterministically truncated to their ``max_bucket_size`` lowest
    ids, so candidate volume stays ≤ bands × n × max_bucket_size (linear
    in n). Truncation can only LOSE pairs among docs that already share a
    bucket with 10k+ others — run ``exact_dedup`` first (as
    examples/training_pipeline.py does) if such pile-ups are expected, or
    pass ``None`` to disable the cap.
    """
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(band_idx).alias("__band"),
        F.col(signature_col).alias("__sig"),
    ).select(
        "__id",
        "__band",
        F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("__sig"), F.col("__band") * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("__bucket"),
    )
    return (
        _bucket_pairs(banded, ["__band", "__bucket"], F.col("__id"), max_bucket_size)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH candidates → exact
    Jaccard verification on candidates only. Returns (id_a, id_b, jaccard)
    pairs with jaccard >= threshold."""
    rows_per_band = num_hashes // bands
    base = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("__id"), word_shingles(text_col, shingle_n).alias("__sh")
    )
    # the shingle sets feed three plan branches (signatures + both sides
    # of the verification join); materialize so shingling runs once, not
    # three times (CPU-bound recompute — unconditional, unlike the
    # size-gated IO-bound sites in operators/shared.py). r16: tracked
    # persist() (operators/shared.py generation ledger) — lineage stays
    # intact so a lost executor recomputes instead of killing the job
    # (the r15 localCheckpoint caveat), and the next invocation releases
    # this generation deterministically, so a long session never
    # accumulates shingle caches (the class round 14 closed for
    # similarity) and every call recomputes from its inputs.
    from druid_hadoop_utils_spark.operators.shared import persist_shared

    base = persist_shared(base, "dedup.minhash_lsh_dedup_pairs")
    with_sig = minhash_table(base, "__id", "__sh", num_hashes, seed)
    cands = lsh_candidate_pairs(
        with_sig, "__id", "signature", bands, rows_per_band, max_bucket_size
    )
    verified = (
        cands.join(base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    return verified


# ------------------------------------------------------- ngram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    blocking: bool = True,
    **lsh_kwargs,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs.

    ``blocking=True`` (default, the scale path) routes through MinHash-LSH
    candidates then verifies exactly. ``blocking=False`` does the
    all-pairs comparison — only for oracle verification at test scales.
    """
    if blocking:
        return minhash_lsh_dedup_pairs(
            df, id_col, text_col, shingle_n, threshold=threshold, **lsh_kwargs
        )
    base = df.select(F.col(id_col).alias("__id"), word_shingles(text_col, shingle_n).alias("__sh"))
    a = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------ connected components

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """(node, component) labels over an undirected pair list: every node
    gets the MINIMUM id reachable from it. The cluster step near-dup
    pipelines need — dedup keeps one doc per component, not per pair.

    Iterative min-label propagation with pointer jumping (each round
    propagates labels across edges AND compresses label chains through the
    current label table), so convergence is O(log diameter) rounds, not
    O(diameter) — a 1000-doc chain converges in ~10 rounds. Each round is
    two shuffles on bounded keys; lineage is truncated per round with
    ``localCheckpoint`` so the plan stays flat no matter the iteration
    count (persist would leave each round's plan nesting the previous
    round's). Caveat at cluster scale: localCheckpoint blocks live
    unreplicated on executors, so an executor loss mid-iteration fails
    the job — on clusters with dynamic allocation or preemptible nodes,
    set a reliable checkpoint dir and swap these calls for
    ``checkpoint()``. The label table is tiny (two longs per node), so
    either primitive is cheap. Raises if ``max_iterations`` rounds
    don't converge (a wrong answer would be silent; a loud failure is
    debuggable).
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = edges.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("comp")
    ).localCheckpoint(eager=True)

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(F.col("src").alias("dst"), F.col("comp").alias("ncomp")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("ncomp").alias("ncomp"))
        )
        propagated = labels.join(neighbor_min, "src", "left").select(
            "src", F.least("comp", F.coalesce("ncomp", F.col("comp"))).alias("comp")
        )
        # pointer jumping: follow comp -> comp(comp) to halve label chains
        jumped = propagated.alias("l").join(
            propagated.select(
                F.col("src").alias("comp"), F.col("comp").alias("ccomp")
            ).alias("p"),
            "comp",
            "left",
        ).select(
            "src", F.least("comp", F.coalesce("ccomp", F.col("comp"))).alias("comp")
        ).localCheckpoint(eager=True)
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "src")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            edges.unpersist()
            return labels.select(F.col("src").alias("node"), F.col("comp").alias("component"))
    edges.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def neardup_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    **lsh_kwargs,
) -> DataFrame:
    """Cluster-level near-dup dedup: MinHash-LSH pairs → connected
    components → keep ONLY the minimum-id doc of every component (plus all
    docs in no component). The end-to-end operator a training-data
    pipeline runs."""
    pairs = minhash_lsh_dedup_pairs(df, id_col, text_col,
                                    threshold=threshold, **lsh_kwargs)
    comp = connected_components(pairs)
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# -------------------------------------------------------------- simhash

def md5_60(col: Column) -> Column:
    """Deterministic 60-bit hash as a signed long: the first 15 hex chars
    of md5. Exists so SimHash signatures can be recomputed bit-for-bit by
    an ANSI-SQL oracle (DuckDB: ``CAST('0x'||substr(md5(x),1,15) AS
    BIGINT)``); 60 bits also sidesteps java's signed-bit-63 edge."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def simhash(token_col: Column, bits: int = 64, seed: int = 7) -> Column:
    """SimHash over a token array: per-token xxhash64, majority vote per
    bit. Expression-only implementation: for each bit, count tokens with
    the bit set vs total; bit survives when set in > half the tokens.

    NOTE: higher-order array functions are interpreted (not codegen'd);
    for bulk signature computation prefer ``simhash_table`` which runs the
    same math as one codegen'd hash aggregate."""
    hashes = F.transform(token_col, lambda t: F.xxhash64(t, F.lit(seed)))
    n = F.size(hashes)
    out = F.lit(0).cast("long")
    for b in range(bits):
        # bit 63 must ride as the signed long min value (java longs)
        mask = (1 << b) if b < 63 else -(1 << 63)
        ones = F.size(F.filter(hashes, lambda h: h.bitwiseAND(F.lit(mask)) != 0))
        out = out + F.when(ones * 2 > n, F.lit(mask)).otherwise(F.lit(0))
    return out


def simhash_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 64,
    seed: int = 7,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, sig) SimHash signatures, bulk path: explode tokens → token hash →
    one hash aggregate with a sum per bit → majority-vote reassembly.
    Everything stays in whole-stage codegen; one shuffle on the id.
    A blank text (empty or whitespace only) tokenizes to ``[""]``, one
    empty token, and is signed like any document: every blank document
    gets the same signature, as ``word_shingles`` gives every empty
    document the one shingle ``""``. Only a null text, which has no
    tokens, is dropped.

    ``hash_mode='xxhash64'`` (default) produces bit-identical signatures to
    ``simhash`` (same hash, same majority rule) — pinned by tests.
    ``hash_mode='md5_60'`` (``bits`` ≤ 60) uses the SQL-expressible
    ``md5_60`` token hash so an external ANSI-SQL oracle can recompute the
    exact signatures.

    In the default ``xxhash64`` mode the per-bit sums are computed
    SWAR-style (round 6): stage 1 packs 8 bit-positions per 64-bit
    accumulator — stripe ``i`` sums ``(h >>> i) & 0x0101010101010101``,
    so each byte lane counts one bit — per (doc, 127-token block): 127
    keeps every byte lane below 0x80, so the PACKED value stays under
    2^63 and the signed-long sum can never hit an ANSI overflow (the top
    lane would otherwise carry into the sign bit); stage 2 unpacks the
    lanes and sums across blocks. 8 masked adds per token instead of
    ``bits``; bit-identical to the naive formulation (pinned by tests),
    measured 1.93→1.68 s on the sf0.1 signature stage. The ``md5_60``
    oracle mode KEEPS the single-aggregate naive path: there the md5
    hashing dominates and the SWAR variant's extra (doc, block) exchange
    measured a net LOSS (1.72→1.85 s)."""
    if hash_mode == "md5_60" and bits > 60:
        raise ValueError("md5_60 hash carries 60 bits; pass bits<=60")
    # __rid: a unique per-INPUT-ROW key. The SWAR block below must bound
    # tokens per block at 127, and __pos restarts at 0 for every source
    # row — if the same id spans several rows, (id, pos div 127) alone
    # would pool their tokens into one overflowing block.
    toks = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("__id"),
        F.monotonically_increasing_id().alias("__rid"),
        F.posexplode(tokens(text_col)).alias("__pos", "__tok"),
    )
    # The per-bit expressions below are built as SQL strings (F.expr):
    # the Column-API construction of the same plan — 64 bit-sums + the
    # 64-term signature chain — cost ~1.3 s of py4j round-trips per
    # query, more than the query's execution at sf0.1 (round 11, the
    # kll_quantiles finding). The JVM plan is identical.
    if hash_mode == "md5_60":
        toks = toks.withColumn("__h", md5_60(F.col("__tok")))
        bit_sums = [
            F.expr(f"sum(shiftrightunsigned(__h, {b}) & 1) AS __b{b}")
            for b in range(bits)
        ]
        counts = toks.groupBy("__id").agg(
            F.expr("count(*) AS __n"), *bit_sums)
    else:
        toks = toks.withColumn("__h", F.xxhash64("__tok", F.lit(seed)))
        lanes = 0x0101010101010101
        toks = toks.withColumn("__blk", F.expr("__pos div 127"))
        # block key includes __rid so a block can NEVER exceed 127 tokens
        # even when one id spans many input rows
        stripe_sums = [
            F.expr(f"sum(shiftrightunsigned(__h, {i}) & {lanes}L) AS __s{i}")
            for i in range(8)
        ]
        blocks = toks.groupBy("__id", "__rid", "__blk").agg(
            F.expr("count(*) AS __bc"), *stripe_sums)
        bit_sums = []
        for b in range(bits):
            stripe, lane = b % 8, b // 8
            bit_sums.append(F.expr(
                f"sum(shiftrightunsigned(__s{stripe}, {8 * lane}) & 255) "
                f"AS __b{b}"))
        counts = blocks.groupBy("__id").agg(
            F.expr("sum(__bc) AS __n"), *bit_sums)
    # one expression for the whole signature; bit 63 is the sign bit —
    # its long literal is spelled (-MAX-1) because "-9223372036854775808L"
    # would parse as unary minus over an out-of-range literal
    terms = " + ".join(
        f"(CASE WHEN __b{b} * 2 > __n THEN "
        + (f"{1 << b}L" if b < 63 else "(-9223372036854775807L - 1L)")
        + " ELSE 0L END)"
        for b in range(bits)
    )
    safe_id = "`" + id_col.replace("`", "``") + "`"
    return counts.selectExpr(f"__id AS {safe_id}", f"({terms}) AS sig")


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 7,
    bits: int = 64,
    hash_mode: str = "xxhash64",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on (k+1) signature chunks —
    pigeonhole guarantees any pair within hamming distance k agrees on at
    least one chunk — then verify the true hamming distance via bit_count.
    One shuffle on chunk keys; no cross join. The blocking is exact (not
    probabilistic): the result equals the all-pairs hamming filter —
    unless a chunk bucket exceeds ``max_bucket_size`` (see
    ``lsh_candidate_pairs``; same deterministic truncation, same
    exact-dedup-first advice for pathological corpora)."""
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    sigs = simhash_table(df, id_col, text_col, bits=bits, seed=seed,
                         hash_mode=hash_mode).select(
        F.col(id_col).alias("__id"), F.col("sig").alias("__sig")
    )
    parts = sigs.select(
        "__id",
        "__sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftrightunsigned(F.col("__sig"), i * chunk_bits)
                    .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                    .alias("key"),
                )
                for i in range(chunks)
            ])
        ).alias("__c"),
    ).select("__id", "__sig", F.col("__c.chunk").alias("__chunk"), F.col("__c.key").alias("__key"))
    # members carry (id, sig) so hamming verification needs no join back;
    # sort_array orders by the struct's leading __id (unique), so the cap
    # keeps exactly the window-era lowest-id member set
    pairs = _bucket_pairs(
        parts,
        ["__chunk", "__key"],
        F.struct(F.col("__id"), F.col("__sig")),
        max_bucket_size,
    )
    return (
        pairs.select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__sig").bitwiseXOR(F.col("b.__sig"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# -------------------------------------------------- incremental (snapshots)

def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    key: Column | None = None,
    seen_is_manifest: bool | None = None,
) -> DataFrame:
    """Cross-snapshot dedup: from a NEW batch, keep only documents whose
    content was neither seen in the existing corpus nor duplicated
    earlier in the batch itself (first-wins by ``id_col``) — the
    every-crawl-increment shape of a training-data pipeline, where
    re-deduplicating the full corpus per ingest would be quadratic in
    snapshots.

    ``seen_df`` is the existing corpus — or, the scale path, a persisted
    FINGERPRINT MANIFEST (``fingerprint_manifest`` of previous batches):
    the anti-join then streams a one-column table instead of re-reading
    full documents. The content key defaults to the token-set fingerprint
    (``text.fingerprint``); pass ``key`` for a custom one (build the
    manifest with the SAME key). A manifest is auto-detected as "has an
    ``fp`` column and no ``text_col``"; pass ``seen_is_manifest`` to
    override the heuristic when ``seen_df`` happens to carry a
    conflicting ``fp`` column.

    Plan shape: both sides reduce to their content key map-side; one
    LeftAnti hash join on the key (AQE broadcasts a small manifest), then
    the in-batch first-wins window on the same key — which reuses the
    anti-join's partitioning, so the whole operator is ONE exchange of
    the new batch at scale.
    """
    from druid_hadoop_utils_spark.operators.text import fingerprint

    k = key if key is not None else fingerprint(text_col)
    if seen_is_manifest is None:
        seen_is_manifest = (
            "fp" in seen_df.columns and text_col not in seen_df.columns
        )
    seen_keys = (
        seen_df.select(F.col("fp").alias("__fp"))
        if seen_is_manifest
        else seen_df.select(k.alias("__fp"))
    )
    tagged = new_df.withColumn("__fp", k)
    fresh = tagged.join(seen_keys, "__fp", "left_anti")
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def fingerprint_manifest(
    df: DataFrame, text_col: str = "text", key: Column | None = None
) -> DataFrame:
    """The distinct content keys of a corpus as a one-column ``fp`` table
    — persist this beside the segments after each ingest and feed it to
    ``incremental_dedup`` so later batches never re-scan earlier text."""
    from druid_hadoop_utils_spark.operators.text import fingerprint

    k = key if key is not None else fingerprint(text_col)
    return df.select(k.alias("fp")).distinct()


def signature_manifest(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """The NEAR-dup twin of ``fingerprint_manifest``: one (id, minhash
    signature) row per document — persist this beside the segments after
    each ingest and feed it to ``incremental_neardup_pairs`` so later
    batches near-dedup against the whole history without ever
    re-shingling or re-hashing earlier text. A signature is
    ``num_hashes`` longs (~512 B at 64 hashes) regardless of document
    size, so the manifest of a billion-doc corpus is ~0.5 TB of scans
    instead of re-reading the corpus text per crawl increment."""
    base = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("__id"),
        word_shingles(text_col, shingle_n).alias("__sh"),
    )
    sigs = minhash_table(base, "__id", "__sh", num_hashes, seed)
    return sigs.select(F.col("__id").alias(id_col), "signature")


def incremental_neardup_pairs(
    new_df: DataFrame,
    seen_signatures: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    threshold: float = 0.5,
    max_bucket_size: int | None = 10_000,
    verify_with: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs a NEW batch introduces — (new doc, any doc)
    — against an existing corpus represented ONLY by its persisted
    ``signature_manifest``, plus pairs within the new batch itself.
    The every-crawl-increment shape of near-dedup at 100 TB: the seen
    corpus's text is never touched — its stored signatures go through
    one band-explode + bucket shuffle (cheap integers), only the NEW
    batch pays shingling and hashing, and seen×seen pairs (already
    found by earlier increments) never enter the join because the
    probe side is new-batch rows only.

    Scoring: ``est_jaccard`` is the minhash agreement fraction — the
    standard unbiased Jaccard estimator (stderr ≈ sqrt(J(1−J)/H), ~6%
    at 64 hashes), computable from signatures alone. When the caller
    retains corpus text and passes it as ``verify_with`` (id, text —
    e.g. the managed documents table), candidate pairs are re-verified
    with EXACT Jaccard and filtered on it; only the candidates' texts
    are read, never the corpus. ``verify_with`` needs to cover only
    the SEEN side — the new batch's own text is pooled in
    automatically — and a pair whose seen text is no longer retained
    falls back to its estimate (NULL ``jaccard``) instead of silently
    vanishing. Returns (id_a, id_b, est_jaccard[, jaccard]) with the
    kept metric >= ``threshold``; id_a < id_b, and every pair involves
    at least one new-batch id.

    Train/seed parameters must match the manifest's — banding a
    signature built under a different seed or hash count finds nothing
    (same contract as merging KLL states: build both sides with one
    config).

    Persisted intermediates: the new batch's banded rows (ids + band
    hashes, a few longs per row) and — under ``verify_with`` — the
    candidates' shingle arrays are cached so the expensive
    shingle+hash pipeline runs ONCE per side, not once per plan branch
    (same precedent as ``minhash_lsh_dedup_pairs``). Lifecycle: each
    increment deterministically releases the previous increment's
    frames (operators/shared.py generation ledger), so a long-running
    ingest session holds at most one increment's caches;
    ``release_shared("dedup.incremental_neardup_pairs")`` drops even
    those once the caller's action completes.

    Id contract: ``verify_with`` (like the corpus manifest) must carry
    at most one row per id. Duplicate ids inside ``verify_with`` would
    survive into the verify pool — the pool dedups the NEW batch per id
    but deliberately not the seen corpus (a per-id dedup there would
    re-sort the entire corpus text per increment, the exact cost the
    r15 anti-join rewrite removed) — and each duplicate then fans its
    candidate pairs into duplicate output rows."""
    rows_per_band = num_hashes // bands
    new_base = spread(new_df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("__id"),
        word_shingles(text_col, shingle_n).alias("__sh"),
    )
    new_sigs = minhash_table(new_base, "__id", "__sh", num_hashes, seed)
    seen_sigs = seen_signatures.select(
        F.col(id_col).alias("__id"), "signature")

    # expr-string construction (the round-11 py4j lesson): the nested
    # slice/transform/xxhash64 banding built through the Column API
    # costs ~0.3 s of driver-side round-trips per side; one SQL string
    # is one py4j call with an identical JVM plan
    bucket_sql = (
        "xxhash64(concat_ws(',', transform("
        f"slice(__sig, __band * {rows_per_band} + 1, {rows_per_band}), "
        "x -> cast(x AS string))))"
    )

    def band_rows(sigs: DataFrame) -> DataFrame:
        return sigs.selectExpr(
            "__id",
            f"explode(sequence(0, {bands - 1})) AS __band",
            "signature AS __sig",
        ).selectExpr("__id", "__band", f"{bucket_sql} AS __bucket", "__sig")

    # materialize the NEW side's banded rows: they feed both the probe
    # side and (via union) the build side of the pair join — without the
    # materialization each branch would recompute the whole
    # shingle+minhash pipeline over the new batch, doubling exactly the
    # cost this operator exists to bound (round-12 review catch). The
    # materialized rows are (id, band, bucket, signature) — integers, no
    # text. r16: tracked persist() (operators/shared.py ledger) — the
    # next increment releases this one deterministically (no
    # session-lifetime CacheManager growth, no GC timing), and lineage
    # stays intact so executor loss recomputes instead of failing the
    # job (the r15 localCheckpoint fault-tolerance caveat).
    from druid_hadoop_utils_spark.operators.shared import persist_shared

    new_banded = persist_shared(
        band_rows(new_sigs), "dedup.incremental_neardup_pairs")
    # the build side is EVERYTHING (seen ∪ new: new-new pairs matter
    # too) assembled FROM the persisted node, so new_sigs has exactly
    # one consumer; the probe side is new-batch rows only, so seen×seen
    # never joins. Same degenerate-bucket cap as lsh_candidate_pairs.
    all_banded = new_banded.unionByName(band_rows(seen_sigs))
    if max_bucket_size is not None:
        w = Window.partitionBy("__band", "__bucket").orderBy("__id")
        all_banded = (
            all_banded.withColumn("__bn", F.row_number().over(w))
            .where(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    left = new_banded.alias("l")
    right = all_banded.alias("r")
    # r15: estimate BEFORE the pair dedup (same move as lsh_topk's
    # cosine-before-dedup): the exchange then carries one double per
    # candidate instead of two num_hashes-long arrays (~1 KB -> 24 B a
    # row), map-side partial aggregation collapses same-partition band
    # collisions pre-shuffle, and the dedup is a codegen HashAggregate
    # on min(double) instead of a SortAggregate buffering first(array)
    # (duplicate band hits carry identical signatures, so min == first).
    est = (
        "size(filter(zip_with(l.__sig, r.__sig, (x, y) -> x = y), "
        f"m -> m)) / cast({num_hashes} AS double)"
    )
    cands = (
        left.join(
            right,
            (F.col("l.__band") == F.col("r.__band"))
            & (F.col("l.__bucket") == F.col("r.__bucket"))
            & (F.col("l.__id") != F.col("r.__id")),
        )
        .select(
            F.least("l.__id", "r.__id").alias("id_a"),
            F.greatest("l.__id", "r.__id").alias("id_b"),
            F.expr(est).alias("__est"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.min("__est").alias("est_jaccard"))
    )
    if verify_with is None:
        return cands.where(F.col("est_jaccard") >= threshold)
    # the verify pool implicitly includes the NEW batch's own text
    # (every pair touches a new id, and at increment time the new docs
    # are typically not yet in the corpus table the caller passes —
    # inner-joining verify_with alone would silently drop EVERY pair,
    # round-12 review catch); verify_with only needs to cover the seen
    # side. LEFT joins + a coalesce fallback keep a pair whose seen
    # text was dropped from retention decidable by its estimate rather
    # than silently vanishing (its `jaccard` column is then NULL).
    # Materialized so the shingles compute once across the two join
    # branches.
    #
    # r15: the pool is assembled with a left-anti join on the id instead
    # of union + dropDuplicates("__vid") — the old shape was a
    # SortAggregate buffering first(text), i.e. a full sort of the
    # ENTIRE verify corpus's text per increment. Now only the new batch
    # (the increment — small by definition) pays a per-id dedup; the
    # corpus side is a hash anti-join on a long key and its text is
    # never sorted. Overlapping ids deterministically keep the NEW
    # batch's text (the old arbitrary-first pick; identical whenever an
    # id maps to one text, which the manifest contract guarantees).
    new_texts = new_df.select(
        F.col(id_col).alias("__vid"), F.col(text_col).alias("__vtext")
    ).dropDuplicates(["__vid"])
    seen_texts = verify_with.select(
        F.col(id_col).alias("__vid"), F.col(text_col).alias("__vtext")
    ).join(new_texts.select("__vid"), "__vid", "left_anti")
    texts = persist_shared(
        new_texts.unionByName(seen_texts)
        .select("__vid", word_shingles("__vtext", shingle_n).alias("__vsh")),
        # second shared frame of the SAME invocation: fresh=False so it
        # joins new_banded's generation instead of releasing it
        "dedup.incremental_neardup_pairs",
        fresh=False,
    )
    return (
        cands.join(texts.select(F.col("__vid").alias("id_a"),
                                F.col("__vsh").alias("sh_a")),
                   "id_a", "left")
        .join(texts.select(F.col("__vid").alias("id_b"),
                           F.col("__vsh").alias("sh_b")),
              "id_b", "left")
        .select("id_a", "id_b", "est_jaccard",
                jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.coalesce(F.col("jaccard"), F.col("est_jaccard"))
               >= threshold)
    )


# ------------------------------------------- global duplicate substrings

def duplicate_ngram_starts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Non-canonical occurrences of corpus-wide duplicated token
    ``n``-grams — (id, start, gram_hash), ``start`` 1-based in token
    positions. The canonical (kept) occurrence of each duplicated n-gram
    is the one with the smallest (id, start).

    This is the fixed-length approximation of suffix-array substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): any duplicated substring of >= n tokens is covered
    by its duplicated n-gram windows.

    Plan: one generator producing md5 hashes of every n-token slice
    (each slice hashed once — no quadratic re-evaluation), then ONE
    exchange on the gram hash with two window functions (count,
    canonical min) over it. Shuffle volume is O(total tokens), never
    document-pair-shaped.

    The r1–r14 shape aggregated (count, canonical) per hash and joined
    that stats table back to a SECOND copy of the gram stream: every
    gram was tokenized and md5-hashed twice (Catalyst duplicates the
    subtree for each consumer — plans/r15/q_strip_dup_ngrams_before.txt
    shows three parquet scans), and at scale the join either broadcast
    an unbounded duplicated-gram table or re-shuffled the grams anyway.
    The window form hashes each gram once and moves it once; its sort
    is no new cost — min(struct) already forced SortAggregate + sort in
    the old plan.
    """
    df = spread(df)  # per-position hashing needs full CPU width
    toks = tokens(text_col)
    n_tok = F.size(toks)
    # sequence(1, 0) would generate a DESCENDING range in Spark — guard
    # short documents to an empty gram list instead
    starts = F.when(
        n_tok >= n, F.sequence(F.lit(1), n_tok - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = df.select(
        F.col(id_col).alias("id"),
        toks.alias("__toks"),
        F.explode(starts).alias("start"),
    ).select(
        "id", "start",
        F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), F.col("start"), n))).alias(
            "gram_hash"
        ),
    )
    w = Window.partitionBy("gram_hash")
    return (
        grams.withColumn("__cnt", F.count("*").over(w))
        .withColumn("__canon", F.min(F.struct("id", "start")).over(w))
        .where(
            (F.col("__cnt") >= min_count)
            & (
                (F.col("id") != F.col("__canon.id"))
                | (F.col("start") != F.col("__canon.start"))
            )
        )
        .select("id", "start", "gram_hash")
    )


def strip_duplicate_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Remove corpus-wide duplicated token spans from every document,
    keeping only each duplicated n-gram's canonical (first) occurrence —
    (id, clean_text, n_tokens, n_removed).

    A token is dropped iff it is covered by some non-canonical duplicated
    n-gram occurrence. Documents made entirely of duplicated text come
    back with clean_text = '' (they are boilerplate).

    Scale: only the DUPLICATE start positions ever shuffle beyond the
    n-gram counting pass — one aggregate collapses them to a per-doc
    start array, which joins back to the documents on the id key (AQE
    broadcasts it when the duplicate set is small). Reconstruction is
    pure map-side expressions: the covered positions expand to a per-doc
    hash map (``map_from_arrays`` — O(1) membership per token, no
    quadratic array_contains scans) and a single filter-transform pass
    rebuilds the text. No token-level shuffle, no collect_list of whole
    documents, no windows."""
    df = spread(df)  # reconstruction is per-row CPU work: use full width
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col).alias("id"),
        toks.alias("__toks"),
    )
    dup = duplicate_ngram_starts(df, id_col, text_col, n=n, min_count=min_count)
    dup_by_doc = dup.groupBy("id").agg(F.collect_set("start").alias("__starts"))
    # covered token positions (0-based) as an O(1)-lookup map per doc
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("__starts"),
                lambda s: F.sequence(s - 1, s + (n - 2)),
            )
        )
    )
    cov_map = F.map_from_arrays(covered, F.transform(covered, lambda _: F.lit(True)))
    indexed = F.filter(
        F.transform(
            F.col("__toks"),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: F.try_element_at(F.col("__cov"), s["i"]).isNull(),
    )
    return (
        base.join(dup_by_doc, "id", "left")
        .withColumn(
            "__cov",
            F.coalesce(
                cov_map,
                F.map_from_arrays(
                    F.array().cast("array<int>"), F.array().cast("array<boolean>")
                ),
            ),
        )
        .withColumn("__kept", indexed)
        .select(
            F.col("id").alias(id_col),
            F.array_join(
                F.transform(F.col("__kept"), lambda s: s["t"]), " "
            ).alias("clean_text"),
            F.size("__toks").cast("long").alias("n_tokens"),
            (F.size("__toks") - F.size("__kept")).cast("long").alias("n_removed"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    quality_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep ONE document per near-duplicate cluster — the HIGHEST-quality
    one, not an arbitrary id (the practical training-data dedup rule:
    near-dup groups usually contain one clean original and several
    mangled copies; dropping by min-id keeps whichever crawled first).

    ``pairs`` is any near-dup pair list (MinHash-LSH, SimHash, n-gram
    Jaccard). Composition: connected components label each clustered doc;
    docs in NO pair are their own singleton component; one row per
    component survives — max ``quality_col``, ties broken by min id
    (deterministic, SQL-recomputable).

    Plan shape: component labels come from the pointer-jumping
    ``connected_components`` (O(log diameter) rounds over the PAIR list,
    never the corpus); the survivor pick is one row_number window over
    the corpus keyed by component — a single shuffle on the component
    key. No all-pairs work outside the pair generator's own bounds.
    """
    from pyspark.sql import Window

    comp = connected_components(pairs, id_a, id_b)
    out = df.join(comp, df[id_col] == comp["node"], "left").drop("node")
    component = F.coalesce(F.col("component"), F.col(id_col))
    w = Window.partitionBy(component).orderBy(
        F.desc(quality_col), F.col(id_col)
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "component")
    )
