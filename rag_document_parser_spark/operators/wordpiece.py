"""WordPiece tokenizer training + greedy longest-match segmentation.

The likelihood-driven counterpart of ``operators/bpe.py`` (the
reference has no tokenizer tier — per-file parsing only,
/root/reference/main.py:72-147): WordPiece (Schuster & Nakajima 2012,
the BERT tokenizer's trainer) picks each merge to maximise the
LIKELIHOOD gain of a unigram LM over the corpus, which reduces to the
score

    score(l, r) = count(lr) / (count(l) * count(r))

— the pair that is most surprising given its parts, not merely the
most frequent one (BPE's criterion). Inference is NOT the merge
replay: a trained WordPiece vocabulary segments each word by greedy
longest-prefix match, with a whole-word UNK when any position has no
matching piece.

Cross-engine fixed point: the score is ranked by

    score_e9 = cnt * 10^9 div (lc * rc)

(truncating integer division, ties broken lexically on the pair
string) so the DuckDB oracle replays the argmax bit-for-bit — the
``keywords.py`` discipline. Headroom: cnt * 10^9 needs cnt < 9.2e9 and
lc * rc needs per-shard symbol mass < 3e9; beyond that, train on a
word-TYPE sample (the standard practice — tokenizer training never
needs the full crawl) or downscale counts, documented like the
``tfidf_keywords`` BIGINT bound.

Why this scales (same skeleton as ``train_bpe``): the corpus collapses
once to the word-TYPE table; each round is two map-side-combinable
aggregates (pair counts, symbol counts — both vocabulary-sized), one
broadcast join, one TakeOrdered(1) argmax, one ``replace`` projection,
with per-round ``localCheckpoint`` so the plan stays flat. Greedy
segmentation enumerates candidate substrings per word TYPE (bounded
``len * max_piece_len`` rows per type, never per token), semi-joins
the broadcast vocabulary, reduces to the longest match per (word,
pos), and walks the cursor with ONE array fold per word — O(len) per
word, zero UDFs; documents then join the per-type cost table broadcast
and aggregate per doc_id.

Vocabulary bookkeeping is exact and driver-sized by construction:
every merge round adds exactly ONE new symbol, so the learned
vocabulary is (distinct single characters of the word-TYPE table) ∪
(one concatenated symbol per merge) — ``n_alphabet + n_merges`` rows,
never collected from corpus-scale data.

Documented subset vs BERT's tokenizer: pieces are position-free (no
``##`` continuation prefix — the same piece string matches at any
offset, SentencePiece-style), and words come from the package's shared
lowercase alphanumeric tokenizer (``dedup.words``), not whitespace +
punctuation splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rag_document_parser_spark.operators.bpe import _apply_merge, _pairs
from rag_document_parser_spark.operators.dedup import words

__all__ = ["train_wordpiece", "wordpiece_vocab", "greedy_segment"]


def _symstr(word: Column) -> Column:
    """' c h a r s ' — sentinel spaces so every boundary matches the
    ' l r ' merge pattern. No ``</w>`` end marker: WordPiece inference
    is longest-match over plain piece strings, so training symbols must
    stay substrings of the word itself."""
    return F.concat(F.lit(" "), F.array_join(F.split(word, ""), " "),
                    F.lit(" "))


def _sym_counts(sym_df: DataFrame) -> DataFrame:
    """(sym, scnt): individual symbol occurrences weighted by type
    count — the unigram denominators of the WordPiece score."""
    flat = (sym_df.select("c", F.explode_outer(F.split(F.trim("s"), " "))
                          .alias("sym"))
            .where(F.col("sym").isNotNull()))
    return flat.groupBy("sym").agg(F.sum("c").alias("scnt"))


def train_wordpiece(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n_merges: int = 16,
                    min_count: int = 2) -> list[tuple[int, str, str,
                                                      int, int]]:
    """Learn ``n_merges`` WordPiece merges from the corpus.

    Returns ``[(merge_rank, lhs, rhs, pair_count, score_e9), ...]`` in
    learned order (driver-sized — one row per merge). Each round's
    winner maximises ``cnt * 10^9 div (count(lhs) * count(rhs))``, ties
    broken lexically on the pair string; words below ``min_count``
    corpus occurrences are excluded (the shared rare-word cutoff);
    stops early when no pair is left.

    Merge application is the same documented one-replace-per-round
    subset as ``train_bpe`` (shared-boundary occurrences merge on a
    later round), replayed bit-for-bit by the unrolled-CTE oracle.
    """
    toks = df.select(words(F.col(text_col)).alias("_t"))
    flat = (toks.select(F.explode_outer("_t").alias("word"))
            .where(F.col("word").isNotNull()))
    wc = (flat.groupBy("word").agg(F.count("*").alias("c"))
          .where(F.col("c") >= min_count))
    syms = wc.select("c", _symstr(F.col("word")).alias("s"))
    syms = syms.localCheckpoint()

    merges: list[tuple[int, str, str, int, int]] = []
    for rank in range(1, n_merges + 1):
        sc = _sym_counts(syms)
        scored = (_pairs(syms)
                  .withColumn("_l", F.split("pair", " ").getItem(0))
                  .withColumn("_r", F.split("pair", " ").getItem(1))
                  .join(F.broadcast(sc.withColumnRenamed("sym", "_l")
                                    .withColumnRenamed("scnt", "lc")),
                        "_l")
                  .join(F.broadcast(sc.withColumnRenamed("sym", "_r")
                                    .withColumnRenamed("scnt", "rc")),
                        "_r")
                  .withColumn("score_e9", F.expr(
                      "cnt * 1000000000 div (lc * rc)")))
        best = (scored.orderBy(F.col("score_e9").desc(),
                               F.col("pair").asc())
                .limit(1).collect())
        if not best:
            break
        row = best[0]
        left, right = row["pair"].split(" ")
        merges.append((rank, left, right, int(row["cnt"]),
                       int(row["score_e9"])))
        syms = syms.select(
            "c", _apply_merge(F.col("s"), left, right).alias("s"),
        ).localCheckpoint()
    return merges


def merges_df(spark, merges: list[tuple[int, str, str, int, int]]
              ) -> DataFrame:
    """The learned merge table as a DataFrame (``lhs``/``rhs`` naming,
    the ``bpe.merges_df`` convention)."""
    return spark.createDataFrame(
        merges, "merge_rank long, lhs string, rhs string, "
                "pair_count long, score_e9 long")


def wordpiece_vocab(df: DataFrame,
                    merges: list[tuple[int, str, str, int, int]],
                    text_col: str = "text",
                    min_count: int = 2) -> list[str]:
    """The learned vocabulary: distinct single characters of the
    trainable word-TYPE table plus one concatenated symbol per merge —
    ``n_alphabet + n_merges`` strings, exact and driver-sized (each
    merge creates exactly one new symbol). The alphabet collect is one
    vocabulary-bounded aggregate, never corpus-sized."""
    toks = df.select(words(F.col(text_col)).alias("_t"))
    flat = (toks.select(F.explode_outer("_t").alias("word"))
            .where(F.col("word").isNotNull()))
    wc = (flat.groupBy("word").agg(F.count("*").alias("c"))
          .where(F.col("c") >= min_count))
    chars = (wc.select(F.explode(F.split("word", "")).alias("ch"))
             .where(F.col("ch") != "").distinct().collect())
    vocab = sorted({r["ch"] for r in chars}
                   | {left + right for _, left, right, _, _ in merges})
    return vocab


def greedy_segment(df: DataFrame, vocab: list[str],
                   text_col: str = "text", id_col: str = "doc_id",
                   max_piece_len: int = 8) -> DataFrame:
    """Greedy longest-match WordPiece segmentation.

    Returns ``(id_col, n_tokens, n_pieces, n_unk)`` per document:
    every word token is segmented left-to-right by the longest vocab
    piece matching at the cursor; a word where some position has no
    match (e.g. a character outside the trained alphabet) is a
    whole-word UNK costing one piece (BERT semantics). Empty docs emit
    ``(0, 0, 0)``.

    Shape: candidate substrings enumerate per word TYPE (≤ len ×
    ``max_piece_len`` rows per type), semi-join the broadcast vocab,
    reduce to the longest match per (word, pos) — one vocabulary-sized
    groupBy — and ONE array fold per word walks the cursor. Documents
    explode to tokens once and join the per-type cost table broadcast;
    the corpus never shuffles on the word key.
    """
    spark = df.sparkSession
    vdf = spark.createDataFrame([(v,) for v in vocab], "piece string")

    toks = df.select(F.col(id_col).alias("id"),
                     words(F.col(text_col)).alias("_t"))
    wt = (toks.select(F.explode_outer("_t").alias("word"))
          .where(F.col("word").isNotNull()).distinct())
    wl = wt.select("word", F.length("word").alias("wlen"))

    # (word, pos, plen, piece) for every start pos and piece length —
    # the two sequences are bound attributes of wl, so the explode is
    # scan-local and bounded by wlen * max_piece_len per TYPE
    cand = (wl.select(
        "word", "wlen",
        F.explode(F.sequence(F.lit(1), F.col("wlen"))).alias("pos"))
        .select("word", "wlen", "pos",
                F.explode(F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len),
                            F.col("wlen") - F.col("pos") + 1)))
                .alias("plen"))
        .select("word", "pos", "plen",
                F.expr("substring(word, pos, plen)").alias("piece")))
    best = (cand.join(F.broadcast(vdf), "piece", "left_semi")
            .groupBy("word", "pos").agg(F.max("plen").alias("plen")))

    # sorted (pos, plen) walk: fold advances the cursor through the
    # longest match at each reachable position; stranded cursor = UNK
    steps = (wl.join(best.groupBy("word").agg(
        F.sort_array(F.collect_list(F.struct("pos", "plen")))
        .alias("_m")), "word", "left")
        .select("word", "wlen",
                F.coalesce("_m", F.expr(
                    "cast(array() as array<struct<pos:int,plen:int>>)"))
                .alias("_m")))
    walk = F.aggregate(
        "_m",
        F.struct(F.lit(1).alias("cur"), F.lit(0).alias("n")),
        lambda acc, m: F.when(
            m.getField("pos") == acc.getField("cur"),
            F.struct((acc.getField("cur") + m.getField("plen"))
                     .alias("cur"),
                     (acc.getField("n") + 1).alias("n")),
        ).otherwise(acc))
    per_word = (steps.select("word", "wlen", walk.alias("_w"))
                .select("word",
                        F.when(F.col("_w.cur") == F.col("wlen") + 1,
                               F.col("_w.n"))
                        .otherwise(F.lit(1)).cast("long")
                        .alias("pieces"),
                        (F.col("_w.cur") != F.col("wlen") + 1)
                        .alias("unk")))

    ex = (toks.select("id", F.explode_outer("_t").alias("word")))
    return (ex.join(F.broadcast(per_word), "word", "left")
            .groupBy("id")
            .agg(F.count("word").alias("n_tokens"),
                 F.coalesce(F.sum("pieces"), F.lit(0)).alias("n_pieces"),
                 F.coalesce(F.sum(F.col("unk").cast("long")), F.lit(0))
                 .alias("n_unk"))
            .select(F.col("id").alias(id_col),
                    F.col("n_tokens").cast("long"),
                    F.col("n_pieces").cast("long"),
                    F.col("n_unk").cast("long")))
