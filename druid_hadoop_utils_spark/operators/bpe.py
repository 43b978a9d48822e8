"""Byte-pair-encoding tokenizer training and encoding over a corpus.

The training-data-pipeline step the simple whitespace/vocab operators
(operators/text.py build_vocab/encode_documents) stop short of: LEARN a
subword vocabulary from the corpus (Sennrich, Haddow & Birch 2016,
"Neural Machine Translation of Rare Words with Subword Units" — the
published algorithm this is a direct implementation of), then encode
documents with it.

Scale architecture — the two halves have different natural homes:

* the CORPUS-scale half (tokenize + count distinct words across N TB)
  is one distributed explode + hash aggregate — the same shape as
  build_vocab, map-side combined, one shuffle on the word;
* the VOCAB-scale half (the iterative merge loop) runs DRIVER-side over
  the word-FREQUENCY table, never the corpus: BPE statistics depend
  only on (distinct word, count) pairs, which are bounded (heavy-tailed
  — ~1M distinct words covers a 100 TB web corpus once ``min_count``
  trims hapaxes) and get REFUSED loudly above ``max_distinct_words``
  rather than silently collected. Running ~30k merge iterations as
  30k Spark jobs would be strictly worse at every scale: each
  iteration's working set is the word table, not the corpus.

The merge loop uses the standard incremental algorithm: a pair→words
inverted index so each merge touches only the words containing that
pair, never rescanning the table. Encoding is Arrow-batched
(mapInPandas) with a per-word memo — the corpus never routes through
Python row-at-a-time, and the learned merge table broadcasts once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.operators.text import tokens
from druid_hadoop_utils_spark.session import local_frame

END_OF_WORD = "</w>"


def _word_counts(df: DataFrame, text_col: str, min_count: int) -> DataFrame:
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
        .where(F.col("count") >= min_count)
    )


def _merge_loop(words: list[tuple[str, int]], n_merges: int):
    """The Sennrich et al. loop with the pair->words inverted index.
    ``words``: (word, count). Returns the ordered merge list
    [(left, right), ...] of length <= n_merges (stops early when no
    pair repeats)."""
    from collections import Counter, defaultdict

    syms: list[list[str]] = [list(w) + [END_OF_WORD] for w, _c in words]
    counts = [c for _w, c in words]
    pair_counts: Counter = Counter()
    index: dict[tuple, set[int]] = defaultdict(set)
    for i, s in enumerate(syms):
        c = counts[i]
        for a, b in zip(s, s[1:]):
            pair_counts[(a, b)] += c
            index[(a, b)].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        # deterministic argmax: count DESC, then lexical — training twice
        # on the same corpus must emit the same merge table
        (left, right), best = max(
            pair_counts.items(), key=lambda kv: (kv[1], kv[0]))
        if best < 2:
            break  # merging hapax pairs memorizes the corpus tail
        merges.append((left, right))
        new_sym = left + right
        for i in list(index[(left, right)]):
            s, c = syms[i], counts[i]
            # remove the word's old pair contributions, rebuild merged
            for a, b in zip(s, s[1:]):
                pair_counts[(a, b)] -= c
                if pair_counts[(a, b)] <= 0:
                    del pair_counts[(a, b)]
                index[(a, b)].discard(i)
            out = []
            j = 0
            while j < len(s):
                if j + 1 < len(s) and s[j] == left and s[j + 1] == right:
                    out.append(new_sym)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            syms[i] = out
            for a, b in zip(out, out[1:]):
                pair_counts[(a, b)] += c
                index[(a, b)].add(i)
    return merges


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1000,
    min_count: int = 2,
    max_distinct_words: int = 2_000_000,
) -> DataFrame:
    """Learn a BPE merge table from the corpus. Returns a DataFrame
    ``(rank, left, right, merged)`` — applying the merges in rank order
    to character-split words (with the ``</w>`` end marker) reproduces
    the learned segmentation exactly.

    ``vocab_size`` counts base symbols + merges: the number of merges
    learned is ``vocab_size - |base alphabet|`` (clamped at 0). Merges
    stop early when no pair occurs twice — BPE beyond that point only
    memorizes hapaxes.

    The corpus pass is distributed (explode + combine-by-key); the merge
    loop runs on the driver over the (distinct word, count) table, which
    must fit: above ``max_distinct_words`` this REFUSES loudly — raise
    ``min_count`` (the standard cut; 2 already removes half of a web
    corpus's distinct words) or the cap itself if the driver has the
    memory.
    """
    wc = _word_counts(df, text_col, min_count)
    n = wc.count()
    if n == 0:
        raise ValueError("train_bpe: empty corpus after min_count cut")
    if n > max_distinct_words:
        raise ValueError(
            f"train_bpe: {n} distinct words exceed the driver-side bound "
            f"max_distinct_words={max_distinct_words} — raise min_count "
            "(trims the heavy tail) or the bound if the driver has the "
            "memory; the merge loop is vocab-scale by design, never "
            "corpus-scale"
        )
    rows = [(r["word"], r["count"]) for r in wc.collect()]
    # deterministic input order -> deterministic tie-breaks end to end
    rows.sort(key=lambda t: (-t[1], t[0]))
    alphabet = {ch for w, _c in rows for ch in w} | {END_OF_WORD}
    n_merges = max(vocab_size - len(alphabet), 0)
    merges = _merge_loop(rows, n_merges)
    return local_frame(
        df.sparkSession,
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank INT, left STRING, right STRING, merged STRING",
    )


def _apply_merges(word: str, ranks: dict) -> list[str]:
    """Greedy lowest-rank-first merge of one word (the standard BPE
    encode): start from characters + </w>, repeatedly merge the
    best-ranked adjacent pair present."""
    s = list(word) + [END_OF_WORD]
    while len(s) > 1:
        best_rank, best_i = None, -1
        for i in range(len(s) - 1):
            r = ranks.get((s[i], s[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i < 0:
            break
        s[best_i:best_i + 2] = [s[best_i] + s[best_i + 1]]
    return s


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode each document into its BPE pieces: ``(id_col, pieces
    array<string>, n_pieces)``. Pieces map to dense ids with the
    existing vocabulary machinery when needed (build a piece vocabulary
    with one groupBy over the exploded pieces).

    Arrow-batched ``mapInPandas`` with the merge-rank dict broadcast
    once and a per-word memo inside each batch — web text repeats words
    heavily, so the memo turns the per-word merge loop into a dict hit
    for the bulk of the stream. Zipf says the memo stays small relative
    to the batch; it is per-task state, freed with the task.
    """
    rank_rows = [((r["left"], r["right"]), r["rank"])
                 for r in merges.select("left", "right", "rank").collect()]
    ranks = dict(rank_rows)
    spark = df.sparkSession
    b_ranks = spark.sparkContext.broadcast(ranks)
    tok_df = df.select(id_col, F.col(text_col).alias("__text"))

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    id_field = tok_df.schema[0]
    out_schema = StructType([
        id_field,
        StructField("pieces", ArrayType(StringType())),
        StructField("n_pieces", IntegerType()),
    ])

    import re

    token_re = re.compile(r"\s+")

    def encode_batches(batches):
        import pandas as pd

        r = b_ranks.value
        memo: dict[str, list[str]] = {}

        def enc(text):
            if text is None:
                return []
            out: list[str] = []
            for w in token_re.split(text.strip().lower()):
                if not w:
                    continue
                hit = memo.get(w)
                if hit is None:
                    hit = memo[w] = _apply_merges(w, r)
                out.extend(hit)
            return out

        for pdf in batches:
            pieces = pdf["__text"].map(enc)
            yield pd.DataFrame({
                id_field.name: pdf[id_field.name],
                "pieces": pieces,
                "n_pieces": pieces.map(len).astype("int32"),
            })

    return tok_df.mapInPandas(encode_batches, out_schema)
