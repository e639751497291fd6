"""Distributed BPE tokenizer training — the merge loop itself.

:mod:`cminer_spark.pipeline.vocab` ships the corpus-side statistics
(word counts, first-merge pair counts); this module runs the actual
byte-pair-encoding trainer (Sennrich et al. 2016, §3.2) on top of
them and applies the learned merges back to a corpus.

Algorithm and scale shape
-------------------------
The corpus (100 TB) reduces ONCE to the word-frequency table — a
combinable groupBy whose output is vocabulary-sized, independent of
corpus row count. Every training iteration then runs on that small
table only:

* pair statistics: one explode + combinable groupBy over the
  segmented vocabulary, weighted by word frequency — O(vocab · avg
  word length) rows, never the corpus;
* the merge decision is a 1-row ``orderBy(n desc, pair asc).limit(1)``
  collect — O(1) driver traffic per iteration, the same
  driver-decides/executors-apply shape as the k-means trainer
  (:func:`cminer_spark.pipeline.similarity.kmeans`);
* applying the merge is a pure string fold over each word's
  segmentation (no Python, no shuffle — a map-only projection), with
  the segmentation state routed through
  :class:`cminer_spark.plans.checkpoint.EphemeralStateStore` every
  few merges so the plan stays O(1) deep across many merges AND
  storage stays bounded at two iterations — ``localCheckpoint``
  would pin every superseded state's blocks until JVM GC of the RDD
  handle (``DataFrame.unpersist`` cannot free them: it only drops
  CacheManager entries, and localCheckpoint persistence is RDD-level),
  so the session's persisted-RDD count would grow with the merge
  count; ``test_train_leaves_no_persistent_state`` checks that a
  training run leaves it unchanged.

Merge semantics are the standard left-to-right non-overlapping pass:
scanning a word's symbol sequence once, ``(a, b)`` occurrences merge
greedily (``"aaaa"`` under ``(a, a)`` → ``aa aa``, not ``aa a a``).
The fold below is exactly that scan: merging replaces the
accumulator's last symbol ``a`` with ``ab``, and since ``len(ab) >
len(a)`` a just-merged symbol can never immediately re-merge as the
``a`` of the same pair.

Segmentations are carried as single-space-joined symbol strings
(symbols come from whitespace-split words, so they can never contain
a space themselves) — the representation both Spark and the DuckDB
oracle fold over with identical arithmetic.

No reference counterpart (CMiner has no text pipeline); this extends
the task-brief training-data operator family (tokenizer training is
the canonical "iterate on the reduced table, not the corpus" job).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cminer_spark.pipeline.vocab import word_counts

__all__ = ["BPETrainInfo", "train_bpe", "segment_words", "bpe_token_counts"]


@dataclass
class BPETrainInfo:
    """Trainer telemetry: one ``(left, right, merged, n)`` per merge."""

    merges: list[tuple[str, str, str, int]] = field(default_factory=list)
    stopped_early: bool = False


def _char_seg(word: Column) -> Column:
    """Initial segmentation: the word's characters joined by ' '."""
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: F.substring(word, i, F.lit(1)),
        ),
        " ",
    )


def _merge_fold(seg: Column, a: str, b: str) -> Column:
    """Apply merge ``(a, b) -> ab`` to a space-joined segmentation:
    one left-to-right non-overlapping pass, as a string fold."""
    syms = F.split(seg, " ")
    rest = F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0)))
    la, ab = F.lit(a), F.lit(a + b)
    guard = F.lit(" " + a)
    return F.aggregate(
        rest,
        F.element_at(syms, 1),
        lambda acc, x: F.when(
            (F.right(F.concat(F.lit(" "), acc), F.length(guard)) == guard)
            & (x == F.lit(b)),
            F.concat(
                F.left(acc, F.length(acc) - F.length(la)), ab
            ),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )


def _pair_counts(segs: DataFrame) -> DataFrame:
    """``(pair, n)`` adjacent-symbol pairs over ``segs(seg, n)``,
    weighted by word frequency; ``pair`` is ``left || ' ' || right``
    (unambiguous — symbols are space-free)."""
    syms = F.split("seg", " ")
    width = F.greatest(F.size(syms) - 1, F.lit(0))
    pairs = F.transform(
        F.arrays_zip(
            F.slice(syms, 1, width).alias("l"),
            F.slice(syms, 2, width).alias("r"),
        ),
        lambda p: F.concat(p["l"], F.lit(" "), p["r"]),
    )
    return (
        segs.select("n", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("n").alias("n"))
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    lowercase: bool = True,
    checkpoint_every: int = 8,
) -> tuple[DataFrame, BPETrainInfo]:
    """Train ``n_merges`` BPE merges over ``docs[text_col]``.

    Returns ``(merges, info)`` where ``merges`` is one row per learned
    merge: ``(merge_rank long, left string, right string,
    merged string, n long)`` — ``n`` is the corpus-weighted frequency
    of the pair at the moment it was chosen. Ties break
    deterministically: count desc, then pair string asc (binary
    collation in both engines). Stops early (``info.stopped_early``)
    when no adjacent pair remains.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    from cminer_spark.plans.checkpoint import EphemeralStateStore

    spark = docs.sparkSession
    info = BPETrainInfo()

    words = word_counts(docs, text_col=text_col, lowercase=lowercase)
    segs = words.select(_char_seg(F.col("word")).alias("seg"), "n").persist()
    n_vocab = segs.count()  # materialize the vocabulary reduction once

    # keep the plan O(1) deep across 10k-merge runs: every few merges
    # the segmentation state round-trips through the parquet
    # double-buffer, which bounds lineage AND storage (two iterations
    # on disk, superseded states deleted eagerly — see module
    # docstring for why localCheckpoint can't do this).
    store = EphemeralStateStore(spark, tag="bpe")
    # Persist each merge's segmentation state so merge k's pair count
    # computes ONE fold layer from the cached k-1 state instead of
    # re-folding the whole merge chain from the vocabulary (the lazy
    # chain made trainer cost quadratic in n_merges between
    # checkpoints). Superseded caches are freed one iteration late —
    # a parent must stay cached until its child materializes in the
    # next rank's pair-count job.
    to_free: list[DataFrame] = []
    from cminer_spark.plans.loopconf import superstep_conf

    # merge loop under the loop config (plans/loopconf.py): shuffle
    # partitions sized to the vocabulary, AQE off — each merge is the
    # pair-count job plus nothing
    with superstep_conf(spark, n_vocab):
        return _train_bpe_loop(
            spark, info, segs, store, to_free, n_merges, checkpoint_every
        )


def _train_bpe_loop(
    spark, info, segs, store, to_free, n_merges, checkpoint_every
):
    try:
        prev = segs
        for rank in range(1, n_merges + 1):
            top = (
                _pair_counts(prev)
                .orderBy(F.desc("n"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            while to_free:
                to_free.pop().unpersist()
            if not top:
                info.stopped_early = True
                break
            pair, n = top[0]["pair"], int(top[0]["n"])
            a, b = pair.split(" ", 1)
            info.merges.append((a, b, a + b, n))

            nxt = prev.select(_merge_fold(F.col("seg"), a, b).alias("seg"), "n")
            if rank % checkpoint_every == 0:
                nxt = store.save(nxt, rank)
            else:
                nxt = nxt.persist()
            if prev is not segs:
                to_free.append(prev)
            prev = nxt
    finally:
        while to_free:
            to_free.pop().unpersist()
        if prev is not segs:
            prev.unpersist()
        segs.unpersist()
        store.close()  # segmentations are not returned
    out = spark.createDataFrame(
        [
            (r + 1, a, b, ab, n)
            for r, (a, b, ab, n) in enumerate(info.merges)
        ],
        schema="merge_rank long, left string, right string, "
        "merged string, n long",
    )
    return out, info


def segment_words(
    words: DataFrame, merges: list[tuple[str, str]], checkpoint_every: int = 8
) -> DataFrame:
    """Apply learned merges (in order) to ``words(word, ...)``;
    adds ``seg`` — the space-joined BPE symbol string.

    Runs on the vocabulary table, not the corpus: encode distinct
    words once, then join the (small, broadcastable) ``word → seg``
    map back onto the 100 TB corpus.

    Long merge lists round-trip the state through an
    :class:`~cminer_spark.plans.checkpoint.EphemeralStateStore` every
    ``checkpoint_every`` merges (bounded lineage + at most two
    iterations on disk). The returned frame reads from the final
    stored state, so the store's last buffer must outlive this call —
    it is reclaimed at interpreter exit (``atexit``), not before.
    """
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    import atexit

    from cminer_spark.plans.checkpoint import EphemeralStateStore

    out = words.withColumn("seg", _char_seg(F.col("word")))
    store: EphemeralStateStore | None = None
    for i, (a, b) in enumerate(merges, start=1):
        out = out.withColumn("seg", _merge_fold(F.col("seg"), a, b))
        if i % checkpoint_every == 0:
            if store is None:
                store = EphemeralStateStore(
                    words.sparkSession, tag="bpe_seg"
                )
                atexit.register(store.close)
            out = store.save(out, i)
    return out


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    top_k: int = 25,
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Corpus token-frequency table under a learned merge list:
    ``(token, n, token_rank)``, top ``top_k`` by (n desc, token asc).

    The corpus reduces to word counts first; segmentation and the
    token explode run on the vocabulary only, and the global top-k is
    an ``orderBy().limit(k)`` (TakeOrdered) with the rank window over
    the k-row result (same pattern as
    :func:`cminer_spark.pipeline.vocab.bpe_pair_counts`).
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    from pyspark.sql import Window

    words = word_counts(docs, text_col=text_col, lowercase=lowercase)
    segged = segment_words(words, merges)
    toks = (
        segged.select("n", F.explode(F.split("seg", " ")).alias("token"))
        .groupBy("token")
        .agg(F.sum("n").alias("n"))
    )
    # global top-k via orderBy+limit (TakeOrdered: per-partition top-k
    # + driver merge); the rank window runs over the k-row result only
    # — no single-partition sort of the token table
    return (
        toks.orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(top_k)
        .select(
            "token",
            "n",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("token").asc()))
            .alias("token_rank"),
        )
    )
