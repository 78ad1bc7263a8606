"""Distributed unigram-LM tokenizer training (Kudo 2018 — the
SentencePiece 'unigram' model), beside the BPE trainer
(functions/bpe.py) as the second learned-subword path of the LM data
pipeline. The reference repo has no counterpart (its rec stage
consumes a fixed charset); public-algorithm ground.

Scale design — the BPE discipline re-applied:

* The trainer NEVER iterates the corpus: ONE corpus-wide word-count
  groupBy collapses 10^12 documents to the vocabulary frame (Heaps'
  law), and everything after operates on that frame.
* Seed vocabulary: substring explode of the vocab words (bounded by
  |vocab| * MAX_PIECE_LEN * avg_len) -> one groupBy(piece) frequency
  count -> keep pieces seen >= SEED_MIN_COUNT, capped to SEED_CAP by
  (freq DESC, piece ASC), UNION every single character (coverage
  floor: any word stays segmentable).
* Hard-EM (Viterbi) rounds, each = one mapInPandas over the vocab
  frame with the BROADCAST piece table + one groupBy(piece) integer
  count + one bounded driver collect of the new table (<= SEED_CAP
  rows — kmeans-centroid-style driver traffic, documented); then
  prune to VOCAB_TARGET by (count DESC, piece ASC), single chars
  always retained.

Exact-integer determinism: the Viterbi objective max prod_i p(x_i)
with p = count/total is compared as EXACT RATIONALS — candidate
(num=prod counts, k=#pieces) beats (num', k') iff
num * total^k' > num' * total^k in Python bigints — so no float log
ever enters a comparison; ties break to FEWER pieces, then the
lexicographically smallest piece sequence. Training is therefore
bit-identical across partitionings (pinned by test) and across EM
round order.

Encoding: the same Viterbi with the final table, Arrow-batched with a
per-word memo dict (Zipf amortization, the encode_bpe shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.functions.bpe import split_words, word_counts

MAX_PIECE_LEN = 6
SEED_MIN_COUNT = 2
SEED_CAP = 512
VOCAB_TARGET = 64
EM_ROUNDS = 2


def viterbi_segment(
    word: str,
    counts: dict[str, int],
    total: int,
    max_len: int = MAX_PIECE_LEN,
) -> tuple[str, ...]:
    """Best segmentation of `word` under the unigram model
    p(piece) = counts[piece] / total, exact-rational compare (module
    docstring). Assumes every single char of `word` is in `counts`."""
    n = len(word)
    pow_t = [1] * (n + 1)
    for i in range(1, n + 1):
        pow_t[i] = pow_t[i - 1] * total
    # best[i]: (num, k, seq) for word[:i]
    best: list[tuple[int, int, tuple[str, ...]] | None] = [None] * (n + 1)
    best[0] = (1, 0, ())
    for i in range(1, n + 1):
        cand: tuple[int, int, tuple[str, ...]] | None = None
        for j in range(max(0, i - max_len), i):
            prev = best[j]
            if prev is None:
                continue
            c = counts.get(word[j:i])
            if not c:
                continue
            cur = (prev[0] * c, prev[1] + 1, prev[2] + (word[j:i],))
            if cand is None:
                cand = cur
                continue
            a = cur[0] * pow_t[cand[1]]
            b = cand[0] * pow_t[cur[1]]
            if (
                a > b
                or (a == b and cur[1] < cand[1])
                or (a == b and cur[1] == cand[1] and cur[2] < cand[2])
            ):
                cand = cur
        best[i] = cand
    out = best[n]
    if out is None:  # unreachable given char coverage; defensive
        return tuple(word)
    return out[2]


def seed_pieces(
    spark: SparkSession, sf_dir: str, vocab: DataFrame | None = None
) -> DataFrame:
    """(piece, cnt) seed table: frequent substrings + single-char
    coverage floor."""
    if vocab is None:
        vocab = word_counts(spark, sf_dir)
    vocab = vocab.localCheckpoint()
    # substring explode as a nested JVM transform (expr form: substring
    # with dynamic start/len columns)
    subs = vocab.selectExpr(
        "cnt",
        f"""explode(flatten(transform(
              sequence(1, least(length(word), {MAX_PIECE_LEN})),
              ln -> transform(
                sequence(1, length(word) - ln + 1),
                st -> substring(word, st, ln))))) AS piece""",
    )
    freq = (
        subs.groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        .where(
            (F.length("piece") == 1) | (F.col("cnt") >= SEED_MIN_COUNT)
        )
    )
    multi = (
        freq.where(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(SEED_CAP)
    )
    chars = freq.where(F.length("piece") == 1)
    return multi.unionByName(chars)


def train_unigram(
    spark: SparkSession,
    sf_dir: str,
    vocab: DataFrame | None = None,
    vocab_target: int = VOCAB_TARGET,
    em_rounds: int = EM_ROUNDS,
) -> list[tuple[str, int]]:
    """Learn the unigram piece table. Returns [(piece, count)] sorted
    (count DESC, piece ASC) — counts are the final Viterbi-EM
    expected counts (exact ints)."""
    import pandas as pd

    if vocab is None:
        vocab = word_counts(spark, sf_dir)
    vocab = vocab.localCheckpoint()
    table = {
        r["piece"]: int(r["cnt"])
        for r in seed_pieces(spark, sf_dir, vocab).collect()
    }
    chars = {p for p in table if len(p) == 1}
    for _ in range(em_rounds):
        counts = dict(table)
        total = sum(counts.values())

        def estep(batches):
            for pdf in batches:
                agg: dict[str, int] = {}
                for w, c in zip(pdf["word"], pdf["cnt"]):
                    for piece in viterbi_segment(str(w), counts, total):
                        agg[piece] = agg.get(piece, 0) + int(c)
                yield pd.DataFrame(
                    {
                        "piece": list(agg.keys()),
                        "n": pd.Series(list(agg.values()), dtype="int64"),
                    }
                )

        new = (
            vocab.mapInPandas(estep, schema="piece string, n long")
            .groupBy("piece")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
        table = {r["piece"]: int(r["n"]) for r in new}
        # coverage floor: chars never vanish (a zero-count char would
        # make some future word unsegmentable)
        for ch in chars:
            table.setdefault(ch, 1)
        # prune to target, chars always kept
        multi = sorted(
            ((p, c) for p, c in table.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        keep = max(vocab_target - len(chars), 0)
        table = dict(multi[:keep]) | {
            p: c for p, c in table.items() if len(p) == 1
        }
    return sorted(table.items(), key=lambda pc: (-pc[1], pc[0]))


def encode_unigram(
    spark: SparkSession,
    sf_dir: str,
    pieces: list[tuple[str, int]],
) -> DataFrame:
    """(doc_id, n_words, n_pieces, piece_md5): every document encoded
    with the learned table — one narrow Arrow pass, per-word memo."""
    import hashlib

    from paddleocr_spark.frames import map_rows
    from paddleocr_spark.sources.scan import scan_parquet

    counts = dict(pieces)
    total = sum(counts.values())
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    # per-word memo, one per task: each task unpickles its own `encode`
    memo: dict[str, tuple[str, ...]] = {}

    def encode(d, lg, t):
        words = split_words(str(t))
        out: list[str] = []
        for w in words:
            seg = memo.get(w)
            if seg is None:
                seg = viterbi_segment(w, counts, total)
                memo[w] = seg
            out.extend(seg)
        return [(int(d), str(lg), len(words), len(out),
                 hashlib.md5(" ".join(out).encode()).hexdigest())]

    return map_rows(
        docs, encode,
        "doc_id long, lang string, n_words long, n_pieces long, "
        "piece_md5 string",
    )


def unigram_fertility(encoded: DataFrame) -> DataFrame:
    """Per-lang unigram fertility (pieces per word, micro-units) — the
    same multilingual-quality metric as bpe.fertility_report, over an
    encode_unigram frame."""
    return (
        encoded.groupBy("lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
        )
        .select(
            "lang",
            "n_words",
            "n_pieces",
            F.round(
                F.col("n_pieces") * 1000000
                / F.greatest(F.col("n_words"), F.lit(1))
            )
            .cast("long")
            .alias("fertility_micro"),
        )
    )
