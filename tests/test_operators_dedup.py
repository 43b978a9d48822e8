import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.operators import dedup as D
from druid_hadoop_utils_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog while birds sing in the tall green trees near the river"
    near = base.replace("lazy dog", "sleepy dog")  # 1-word edit → high jaccard
    far = "completely different content about databases and distributed query engines running on clusters"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),          # exact dup of 1
        Row(doc_id=3, text=near),          # near dup of 1
        Row(doc_id=4, text=far),
        Row(doc_id=5, text=far + " with extra words appended here"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_keeps_min_id(docs):
    out = D.exact_dedup(docs, ["text"], "doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3, 4, 5]


def test_duplicate_groups(docs):
    out = {r.doc_id: r.dup_count for r in D.duplicate_groups(docs, ["text"], "doc_id").collect()}
    assert out[1] == 2 and out[3] == 1


def test_word_shingles(spark):
    df = spark.createDataFrame([Row(text="a b c d")])
    sh = df.select(D.word_shingles("text", 3).alias("s")).first().s
    assert sorted(sh) == ["a b c", "b c d"]


def test_shingles_short_text_degenerates_gracefully(spark):
    df = spark.createDataFrame([Row(text="hello")])
    sh = df.select(D.word_shingles("text", 3).alias("s")).first().s
    assert sh == ["hello"]


def test_minhash_lsh_finds_planted_near_dups(docs):
    pairs = D.minhash_lsh_dedup_pairs(docs, "doc_id", threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always found
    assert (1, 3) in got or (2, 3) in got  # near dup found
    assert (1, 4) not in got and (2, 4) not in got


@pytest.mark.slow
def test_minhash_recall_vs_exact_on_real_docs(spark, sf_dir):
    """LSH recall against the exact all-pairs oracle on the driver corpus."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, "doc_id", threshold=0.5, blocking=False).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_dedup_pairs(docs, "doc_id", threshold=0.5).collect()
    }
    assert lsh <= exact or not exact  # verification step guarantees precision 1.0
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.9, f"LSH recall too low: {recall} ({len(lsh)}/{len(exact)})"


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """Adversarial all-identical corpus: every doc lands in every band
    bucket, so the uncapped self-join would be quadratic (C(500,2) =
    124750 pairs). The cap truncates each bucket to its lowest ids,
    keeping candidate volume linear in n."""
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("same text repeated for every single document here").alias("text"),
    )
    pairs = D.minhash_lsh_dedup_pairs(docs, "doc_id", threshold=0.5,
                                      max_bucket_size=20)
    assert pairs.count() == 190  # C(20,2): pairs among the 20 kept ids only


def test_simhash_hot_bucket_cap_bounds_candidates(spark):
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("same text repeated for every single document here").alias("text"),
    )
    pairs = D.simhash_candidate_pairs(docs, "doc_id", max_hamming=3,
                                      max_bucket_size=20)
    assert pairs.count() == 190


def test_minhash_battery_params_equal_exact(spark, sf_dir):
    """The battery's convergent parameterization (num_hashes=64, bands=32)
    must reproduce the exact all-pairs answer — this is what makes
    q_dedup_minhash_lsh oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, "doc_id", threshold=0.5, blocking=False).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_dedup_pairs(
            docs, "doc_id", threshold=0.5, num_hashes=64, bands=32
        ).collect()
    }
    assert lsh == exact


def test_md5_60_matches_duckdb(spark):
    """md5_60 must agree bit-for-bit with the DuckDB expression the
    oracle uses (CAST('0x'||substr(md5(x),1,15) AS BIGINT))."""
    import duckdb

    words = ["hello", "WORLD", "détente", "42", ""]
    df = spark.createDataFrame([Row(w=w) for w in words])
    got = {r.w: r.h for r in df.select("w", D.md5_60(F.col("w")).alias("h")).collect()}
    con = duckdb.connect()
    for w in words:
        expected = con.execute(
            "SELECT CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT)", [w]
        ).fetchone()[0]
        assert got[w] == expected, w


def test_simhash_md5_60_blocking_equals_allpairs(spark, sf_dir):
    """Pigeonhole chunk blocking is exact: the blocked result equals the
    all-pairs hamming filter over the same signatures."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.simhash_table(docs, "doc_id", bits=60, hash_mode="md5_60")
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb"))
    allpairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"))
        .where(F.col("hamming") <= 3)
        .collect()
    }
    blocked = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_candidate_pairs(
            docs, "doc_id", max_hamming=3, bits=60, hash_mode="md5_60"
        ).collect()
    }
    assert blocked == allpairs


def test_connected_components_basic(spark):
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=5, id_b=6),
         Row(id_a=3, id_b=9)]
    )
    out = {r.node: r.component for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_connected_components_long_chain(spark):
    """A 200-node path: pointer jumping must converge in O(log n) rounds,
    well under the iteration cap (plain propagation would need ~200)."""
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(200)]
    )
    out = D.connected_components(pairs, max_iterations=15)
    comps = {r.component for r in out.collect()}
    assert comps == {0}
    assert out.count() == 201


def test_neardup_dedup_keeps_one_per_cluster(docs):
    out = D.neardup_dedup(docs, "doc_id", num_hashes=64, bands=32)
    ids = sorted(r.doc_id for r in out.collect())
    # two clusters: {1,2,3} (exact + near dup) and {4,5} (doc 5 extends
    # doc 4, sharing 10 of 15 shingles → J = 0.67); min id survives each
    assert ids == [1, 4]


def test_simhash_near_dups(docs):
    pairs = D.simhash_candidate_pairs(docs, "doc_id", max_hamming=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    hams = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert hams[(1, 2)] == 0  # identical text → identical simhash


def test_expression_signatures_equal_their_table_twins(spark, docs):
    """``minhash_signature`` equals ``minhash_table`` and ``simhash``
    equals ``simhash_table`` (``xxhash64`` mode) per document: the fixture
    docs, an empty document and one of 320 tokens (past the 127-token
    block of the table's bit sums)."""
    long_text = " ".join(f"w{i % 97}" for i in range(320))
    more = spark.createDataFrame([Row(doc_id=6, text=""), Row(doc_id=7, text=long_text)])
    all_docs = docs.unionByName(more)
    non_empty = [1, 2, 3, 4, 5, 7]  # whether doc 6 is kept is not pinned here
    sh = all_docs.select("doc_id", D.word_shingles("text", 3).alias("__sh"))
    expr_mh = {r.doc_id: r.sig for r in sh.select(
        "doc_id", D.minhash_signature(F.col("__sh")).alias("sig")).collect()}
    table_mh = {r.doc_id: r.signature
                for r in D.minhash_table(sh, "doc_id", "__sh").collect()}
    assert set(non_empty) <= set(table_mh)
    assert table_mh == {k: expr_mh[k] for k in table_mh}
    expr_sh = {r.doc_id: r.sig for r in all_docs.select(
        "doc_id", D.simhash(D.tokens("text")).alias("sig")).collect()}
    table_sh = {r.doc_id: r.sig for r in D.simhash_table(all_docs, "doc_id").collect()}
    assert set(non_empty) <= set(table_sh)
    assert table_sh == {k: expr_sh[k] for k in table_sh}


def test_blank_documents_pair_only_with_each_other(spark, docs):
    """A blank text tokenizes to ``[""]`` and is signed like any document:
    two blank texts pair with each other (SimHash hamming 0, MinHash
    Jaccard 1.0) and with nothing else."""
    blanks = spark.createDataFrame([Row(doc_id=8, text=""), Row(doc_id=9, text="   ")])
    df = docs.unionByName(blanks)

    def touching_blanks(pairs, metric):
        return sorted((r.id_a, r.id_b, r[metric]) for r in pairs.collect()
                      if {r.id_a, r.id_b} & {8, 9})

    assert touching_blanks(D.simhash_candidate_pairs(df, "doc_id"), "hamming") == [(8, 9, 0)]
    assert touching_blanks(D.minhash_lsh_dedup_pairs(df, "doc_id"), "jaccard") == [(8, 9, 1.0)]


def test_simhash_deterministic(docs):
    a = docs.select(D.simhash(D.tokens("text")).alias("s")).collect()
    b = docs.select(D.simhash(D.tokens("text")).alias("s")).collect()
    assert [r.s for r in a] == [r.s for r in b]


class TestIncrementalDedup:
    def _dfs(self, spark):
        seen = spark.createDataFrame([
            Row(doc_id=1, text="old news here"),
            Row(doc_id=2, text="evergreen content"),
        ])
        batch = spark.createDataFrame([
            Row(doc_id=10, text="old news here"),       # dup of corpus
            Row(doc_id=11, text="brand new thing"),
            Row(doc_id=12, text="brand new thing"),     # in-batch dup
            Row(doc_id=13, text="another fresh doc"),
            Row(doc_id=14, text="news old here"),       # token-set dup of 10
        ])
        return seen, batch

    def test_cross_and_in_batch_dups_removed(self, spark):
        from druid_hadoop_utils_spark.operators.dedup import incremental_dedup

        seen, batch = self._dfs(spark)
        kept = sorted(r.doc_id for r in
                      incremental_dedup(batch, seen, "doc_id").collect())
        # 10 and 14 collide with the corpus fingerprint; 12 loses to 11
        assert kept == [11, 13]

    def test_manifest_equals_full_corpus_path(self, spark):
        from druid_hadoop_utils_spark.operators.dedup import (
            fingerprint_manifest,
            incremental_dedup,
        )

        seen, batch = self._dfs(spark)
        a = sorted(r.doc_id for r in
                   incremental_dedup(batch, seen, "doc_id").collect())
        b = sorted(r.doc_id for r in incremental_dedup(
            batch, fingerprint_manifest(seen), "doc_id").collect())
        assert a == b

    def test_output_keeps_input_columns(self, spark):
        from druid_hadoop_utils_spark.operators.dedup import incremental_dedup

        seen, batch = self._dfs(spark)
        out = incremental_dedup(batch, seen, "doc_id")
        assert set(out.columns) == {"doc_id", "text"}

    def test_custom_key(self, spark):
        from druid_hadoop_utils_spark.operators.dedup import incremental_dedup

        seen = spark.createDataFrame([Row(doc_id=1, text="x", url="a.com/p")])
        batch = spark.createDataFrame([
            Row(doc_id=10, text="y", url="a.com/p"),
            Row(doc_id=11, text="z", url="b.com/q"),
        ])
        kept = sorted(r.doc_id for r in incremental_dedup(
            batch, seen, "doc_id", key=F.col("url")).collect())
        assert kept == [11]


class TestStripDuplicateNgrams:
    def _docs(self, spark):
        shared = "one two three four five six"
        rows = [
            Row(doc_id=1, text=f"alpha beta {shared} gamma"),
            Row(doc_id=2, text=f"delta {shared} epsilon"),
            Row(doc_id=3, text="totally unique words nothing repeats here"),
        ]
        return spark.createDataFrame(rows)

    def test_canonical_first_occurrence_kept(self, spark):
        from druid_hadoop_utils_spark.operators.dedup import strip_duplicate_ngrams

        out = {r.doc_id: r for r in
               strip_duplicate_ngrams(self._docs(spark), n=6).collect()}
        # doc 1 holds the canonical occurrence: untouched
        assert out[1].clean_text == "alpha beta one two three four five six gamma"
        assert out[1].n_removed == 0
        # doc 2's copy of the shared 6-gram is stripped
        assert out[2].clean_text == "delta epsilon"
        assert out[2].n_removed == 6
        assert out[3].n_removed == 0
        assert out[3].n_tokens == 6

    def test_longer_duplicate_span_fully_covered(self, spark):
        from druid_hadoop_utils_spark.operators.dedup import strip_duplicate_ngrams

        # a 4-token duplicated span with n=3: overlapping 3-grams cover
        # the whole span in the non-canonical doc
        rows = [
            Row(doc_id=1, text="a b c d x"),
            Row(doc_id=2, text="y a b c d"),
        ]
        out = {r.doc_id: r.clean_text for r in
               strip_duplicate_ngrams(spark.createDataFrame(rows), n=3).collect()}
        assert out[1] == "a b c d x"
        assert out[2] == "y"

    def test_within_document_repeat_stripped(self, spark):
        from druid_hadoop_utils_spark.operators.dedup import strip_duplicate_ngrams

        rows = [Row(doc_id=1, text="p q r p q r")]
        out = strip_duplicate_ngrams(spark.createDataFrame(rows), n=3).collect()[0]
        assert out.clean_text == "p q r"
        assert out.n_removed == 3

    def test_doc_shorter_than_n_untouched(self, spark):
        from druid_hadoop_utils_spark.operators.dedup import strip_duplicate_ngrams

        rows = [Row(doc_id=1, text="tiny doc"), Row(doc_id=2, text="tiny doc")]
        out = {r.doc_id: r for r in
               strip_duplicate_ngrams(spark.createDataFrame(rows), n=6).collect()}
        # both shorter than n: no n-grams, nothing stripped (exact dedup
        # is a different operator)
        assert out[1].clean_text == "tiny doc" and out[2].clean_text == "tiny doc"

    def test_fully_boilerplate_doc_emptied(self, spark):
        from druid_hadoop_utils_spark.operators.dedup import strip_duplicate_ngrams

        rows = [
            Row(doc_id=1, text="a b c d e f"),
            Row(doc_id=2, text="a b c d e f"),
        ]
        out = {r.doc_id: r for r in
               strip_duplicate_ngrams(spark.createDataFrame(rows), n=6).collect()}
        assert out[1].clean_text == "a b c d e f"
        assert out[2].clean_text == "" and out[2].n_removed == 6

    def test_min_count_threshold(self, spark):
        from druid_hadoop_utils_spark.operators.dedup import strip_duplicate_ngrams

        rows = [
            Row(doc_id=1, text="a b c d e f"),
            Row(doc_id=2, text="a b c d e f"),
        ]
        out = strip_duplicate_ngrams(
            spark.createDataFrame(rows), n=6, min_count=3)
        assert all(r.n_removed == 0 for r in out.collect())


def test_dedup_keep_best_quality_and_singletons(spark):
    from druid_hadoop_utils_spark.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7)], "id long, q long")
    # cluster {1,2,3} (transitive via 1-2, 2-3); 4 is a singleton
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(r.id for r in dedup_keep_best(df, "id", pairs, "q").collect())
    # best quality 50 is tied between 2 and 3 -> min id 2 wins; 4 survives
    assert kept == [2, 4]


@pytest.mark.slow
def test_simhash_table_swar_bit_identical_to_naive(spark):
    """The SWAR lane-packed bit sums (round 6) must be bit-identical to
    the naive per-bit formulation in BOTH hash modes — including docs
    longer than the 255-token lane capacity (block split exercised)."""
    import random

    rng = random.Random(11)
    words = [f"w{j}" for j in range(400)]
    rows = [(i, " ".join(rng.choice(words)
                         for _ in range(rng.choice([3, 50, 300, 700]))))
            for i in range(40)]
    # same id across MULTIPLE input rows: the SWAR block key must bound
    # per-block tokens even then (the round-6 review repro — 6×127
    # tokens under one id overflowed the packed sum)
    rows += [(99, " ".join(rng.choice(words) for _ in range(127)))
             for _ in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for mode, bits in [("xxhash64", 64), ("md5_60", 60)]:
        got = {r.doc_id: r.sig for r in D.simhash_table(
            docs, "doc_id", bits=bits, hash_mode=mode).collect()}
        toks = docs.select(
            F.col("doc_id"), F.explode(D.tokens("text")).alias("t"))
        h = (D.md5_60(F.col("t")) if mode == "md5_60"
             else F.xxhash64("t", F.lit(7)))
        naive_sums = [
            F.sum(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)))
            .alias(f"b{b}") for b in range(bits)
        ]
        agg = toks.groupBy("doc_id").agg(
            F.count("*").alias("n"), *naive_sums)
        sig = F.lit(0).cast("long")
        for b in range(bits):
            mask = (1 << b) if b < 63 else -(1 << 63)
            sig = sig + F.when(
                F.col(f"b{b}") * 2 > F.col("n"), F.lit(mask)
            ).otherwise(F.lit(0))
        want = {r.doc_id: r.sig for r in
                agg.select("doc_id", sig.alias("sig")).collect()}
        assert got == want, mode


class TestIncrementalNeardup:
    """signature_manifest + incremental_neardup_pairs (round 12): the
    crawl-increment near-dedup — new batch vs persisted signatures,
    seen text never re-read."""

    def _halves(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        seen = docs.where(F.col("doc_id") % 2 == 0)
        new = docs.where(F.col("doc_id") % 2 == 1)
        return docs, seen, new

    def test_matches_batch_pipeline_on_cross_and_new_pairs(self, spark,
                                                           sf_dir):
        """Verified incremental pairs == the full batch pipeline's
        pairs restricted to (>=1 new id) — the manifest path loses
        nothing the one-shot pipeline would find."""
        docs, seen, new = self._halves(spark, sf_dir)
        manifest = D.signature_manifest(seen, "doc_id")
        inc = {
            (r.id_a, r.id_b)
            for r in D.incremental_neardup_pairs(
                new, manifest, "doc_id", threshold=0.5,
                verify_with=docs).collect()
        }
        batch = {
            (r.id_a, r.id_b)
            for r in D.minhash_lsh_dedup_pairs(
                docs, "doc_id", threshold=0.5).collect()
        }
        new_ids = {r.doc_id for r in new.collect()}
        batch_new = {(a, b) for a, b in batch
                     if a in new_ids or b in new_ids}
        assert inc == batch_new

    def test_signature_only_path_needs_no_seen_text(self, spark, sf_dir):
        """Without verify_with the decision is the signature-agreement
        estimate — computable from the manifest alone. Exact duplicates
        across the halves estimate at 1.0."""
        docs, seen, new = self._halves(spark, sf_dir)
        manifest = D.signature_manifest(seen, "doc_id")
        out = D.incremental_neardup_pairs(
            new, manifest, "doc_id", threshold=0.5).collect()
        assert all(r.est_jaccard >= 0.5 for r in out)
        # exact-text duplicates (the synthetic corpus plants some
        # across halves) must estimate at exactly 1.0
        texts = {r.doc_id: r.text for r in docs.collect()}
        exact_cross = {(a, b) for a in texts for b in texts
                       if a < b and texts[a] == texts[b]
                       and ((a % 2 == 1) or (b % 2 == 1))}
        got = {(r.id_a, r.id_b): r.est_jaccard for r in out}
        for pair in exact_cross:
            assert got.get(pair) == 1.0, (pair, got.get(pair))

    def test_seen_seen_pairs_never_emitted(self, spark, sf_dir):
        docs, seen, new = self._halves(spark, sf_dir)
        manifest = D.signature_manifest(seen, "doc_id")
        out = D.incremental_neardup_pairs(
            new, manifest, "doc_id", threshold=0.5,
            verify_with=docs).collect()
        new_ids = {r.doc_id for r in new.collect()}
        assert all(r.id_a in new_ids or r.id_b in new_ids for r in out)
        # and normalized ordering with no duplicates
        pairs = [(r.id_a, r.id_b) for r in out]
        assert all(a < b for a, b in pairs)
        assert len(pairs) == len(set(pairs))

    def test_empty_seen_equals_within_batch_pipeline(self, spark, docs):
        empty = D.signature_manifest(docs.limit(0), "doc_id")
        out = {
            (r.id_a, r.id_b)
            for r in D.incremental_neardup_pairs(
                docs, empty, "doc_id", threshold=0.5,
                verify_with=docs).collect()
        }
        batch = {
            (r.id_a, r.id_b)
            for r in D.minhash_lsh_dedup_pairs(
                docs, "doc_id", threshold=0.5).collect()
        }
        assert out == batch

    def test_verify_pool_covers_new_batch_automatically(self, spark,
                                                        sf_dir):
        """The realistic increment shape: verify_with is the SEEN corpus
        only (the new batch isn't published yet) — pairs must still
        verify, because the new side's text pools in automatically
        (round-12 review catch: inner joins on seen-only text silently
        returned zero pairs)."""
        docs, seen, new = self._halves(spark, sf_dir)
        manifest = D.signature_manifest(seen, "doc_id")
        seen_only = {
            (r.id_a, r.id_b)
            for r in D.incremental_neardup_pairs(
                new, manifest, "doc_id", threshold=0.5,
                verify_with=seen).collect()
        }
        full = {
            (r.id_a, r.id_b)
            for r in D.incremental_neardup_pairs(
                new, manifest, "doc_id", threshold=0.5,
                verify_with=docs).collect()
        }
        assert seen_only == full and full, (len(seen_only), len(full))

    def test_verify_missing_seen_text_falls_back_to_estimate(self, spark,
                                                             docs):
        """A candidate whose seen text is no longer retained keeps its
        estimate decision (NULL exact jaccard) instead of vanishing."""
        seen = docs.where(F.col("doc_id") == 1)   # exact dup of doc 2
        new = docs.where(F.col("doc_id") == 2)
        manifest = D.signature_manifest(seen, "doc_id")
        out = D.incremental_neardup_pairs(
            new, manifest, "doc_id", threshold=0.9,
            verify_with=docs.limit(0)).collect()
        assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
        assert out[0].est_jaccard == 1.0
        assert out[0].jaccard is None  # seen text gone: estimate decided
