"""Distributed BPE tokenizer training + encoding (Sennrich et al. 2016).

The step between corpus curation and `chunk_split`/`seq_pack` in an LM
data pipeline: learn the subword merge table FROM the corpus, then
encode every document with it. The reference repo has no counterpart
(its rec stage consumes a fixed charset, `ppocr/postprocess/
rec_postprocess.py`); this is public-algorithm ground like the dedup
family.

Scale design — the textbook algorithm re-expressed in the shapes this
repo already uses:

* The trainer NEVER iterates over the corpus. One corpus-wide
  word-count groupBy (map-side combine, the exact `dedup_exact` shape)
  collapses 10^12 documents into a VOCAB-sized frame (distinct words x
  count — Heaps' law keeps this executor-memory-scale even at 100 TB),
  and every merge iteration shuffles only that frame.
* Per iteration: adjacent-pair explode (zip_with over two slices — the
  boilerplate-grams build) -> ONE groupBy(pair) weighted count -> the
  argmax pair is the round's ONLY driver-side collect (1 row, the
  `dedup_clusters` scalar discipline) -> the merge is applied with a
  JVM `aggregate` fold (no Python in the loop) -> `localCheckpoint`
  truncates the per-round lineage (N_MERGES nested `aggregate` calls
  would otherwise stack into one unplannable codegen unit).
* Encoding is an Arrow-batched `frames.map_rows` with a per-word memo dict:
  Zipf means a batch of documents re-encodes the same head words
  thousands of times, so amortized cost per token is a dict hit. The
  merge table rides the closure (broadcast-sized: N_MERGES entries).

Determinism: pair argmax breaks ties by (count DESC, first symbol ASC,
second symbol ASC) — bit-identical across partitionings because the
counts are exact integers. Merge application is the greedy
left-to-right non-overlapping fold (identical to the reference
`re.sub('(?<!\\S)A B(?!\\S)')` semantics), pinned by
`bpe_reference` parity tests in tests/test_bpe.py.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from paddleocr_spark.sources.scan import scan_parquet

END = "</w>"  # end-of-word marker, its own symbol (Sennrich fig. 2)

# Java regex \s (the trainer's F.split) is ASCII-only: [ \t\n\x0B\f\r].
# Every Python-side split MUST use the same class — str.split() is
# Unicode-aware and would disagree with the trainer on NBSP/U+3000 in
# multilingual text, silently training merges over different words than
# encoding applies them to.
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def split_words(text: str) -> list[str]:
    """The one word-boundary definition shared by trainer (via its JVM
    twin), encoder, and reference: ASCII-whitespace split, no empties."""
    return [w for w in _WS.split(text) if w]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scan_parquet(spark, f"{sf_dir}/documents.parquet")


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt): the corpus collapsed to its vocabulary — the ONLY
    corpus-wide shuffle the trainer ever takes."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_fold(syms, a: str, b: str):
    """JVM fold applying one merge rule greedily left-to-right:
    [..., a, b, ...] -> [..., ab, ...], non-overlapping (after a merge
    the NEW symbol never re-pairs with the next element within the same
    pass — `aaa` + (a,a) -> [aa, a])."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 32,
    vocab: DataFrame | None = None,
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merge rules from the corpus. Returns the
    ordered merge list [(first, second), ...]; stops early when no
    adjacent pair occurs >= 2 times (merging singletons is noise).

    `vocab` overrides the corpus word count (tests hand in literal
    frames)."""
    if vocab is None:
        vocab = word_counts(spark, sf_dir)
    # chars + end-of-word marker; split('', -1) emits no empty strings
    # for non-empty input but filter anyway (defensive vs locale quirks)
    v = vocab.select(
        "cnt",
        F.concat(
            F.filter(F.split("word", ""), lambda x: x != ""),
            F.array(F.lit(END)),
        ).alias("syms"),
    ).localCheckpoint()

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = v.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < 2:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        # localCheckpoint per round: truncates the nested-aggregate
        # lineage AND materializes the vocab so the next pair count
        # doesn't recompute every earlier fold
        v = v.select("cnt", _merge_fold("syms", a, b).alias("syms"))
        v = v.localCheckpoint()
    return merges


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python single-word encode: apply the learned rules in
    order, each greedily left-to-right — the same fold `_merge_fold`
    runs JVM-side, so trainer-state and encoder agree symbol-exactly."""
    syms = list(word) + [END]
    for a, b in merges:
        if a not in syms:  # cheap reject before the fold
            continue
        out: list[str] = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        syms = out
    return syms


def encode_bpe(
    spark: SparkSession,
    sf_dir: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Per-doc (doc_id, n_words, n_bpe_tokens, tokens_md5) under the
    learned merge table. Arrow-batched narrow map (zero shuffles); a
    per-task memo dict exploits Zipf — head words encode once per
    batch, not once per occurrence."""
    import hashlib

    from paddleocr_spark.frames import map_rows

    raw = _docs(spark, sf_dir)
    # lang rides along when the table has it (test corpora may not)
    docs = (
        raw.select("doc_id", "text", "lang")
        if "lang" in raw.columns
        else raw.select("doc_id", "text", F.lit("und").alias("lang"))
    )
    # per-word memo, one per task: each task unpickles its own `encode`
    memo: dict[str, list[str]] = {}

    def encode(d, t, lang):
        words = split_words(str(t))
        toks: list[str] = []
        for w in words:
            enc = memo.get(w)
            if enc is None:
                enc = encode_word(w, merges)
                memo[w] = enc
            toks.extend(enc)
        return [(d, lang, len(words), len(toks),
                 hashlib.md5(" ".join(toks).encode("utf-8")).hexdigest())]

    return map_rows(
        docs, encode,
        "doc_id long, lang string, n_words int, n_bpe_tokens int,"
        " tokens_md5 string",
    )


def fertility_report(encoded: DataFrame) -> DataFrame:
    """Per-lang tokenizer fertility (BPE tokens per word, micro-units)
    from an encode_bpe frame — the standard multilingual-tokenizer
    quality metric (a lang whose fertility is 2x another's pays 2x the
    context budget per word). One map-side-combined groupBy; the
    report is lang-count-sized, always broadcast-scale."""
    return (
        encoded.groupBy("lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens") * 1000000
                / F.greatest(F.col("n_words"), F.lit(1))
            )
            .cast("long")
            .alias("fertility_micro"),
        )
    )


def run_tokenize_job(
    spark: SparkSession,
    sf_dir: str,
    results: str,
    n_merges: int = 32,
) -> dict:
    """The `job.py --tokenize N` body: train the merge table on the
    documents table, encode every document, write both artifacts.
    `merges.parquet` is one tiny file (the tokenizer IS the artifact a
    training run ships); `encodings.parquet` inherits the scan
    partitioning (narrow encode, no shuffle)."""
    merges = train_bpe(spark, sf_dir, n_merges=n_merges)
    enc = encode_bpe(spark, sf_dir, merges)
    enc.write.mode("overwrite").parquet(f"{results}/encodings.parquet")
    spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, first string, second string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{results}/merges.parquet"
    )
    committed = spark.read.parquet(f"{results}/encodings.parquet")
    fertility_report(committed).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{results}/fertility.parquet")
    return {"n_merges": len(merges), "n_docs": committed.count()}


def bpe_reference(
    counts: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """Textbook single-machine BPE trainer (Sennrich et al. 2016,
    algorithm 1) with the same (count DESC, pair ASC) tie-break — the
    oracle the distributed trainer is pinned against."""
    vocab = {w: list(w) + [END] for w in counts}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_n: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            c = counts[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_n[p] = pair_n.get(p, 0) + c
        if not pair_n:
            break
        best = min(pair_n.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b), _n = best
        merges.append((a, b))
        for w, syms in vocab.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            vocab[w] = out
    return merges
