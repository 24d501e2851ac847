"""Distributed unigram-LM tokenizer training + encoding (engine
extension — the second major subword algorithm next to BPE
(operators/bpe.py); SentencePiece's default trainer).

Unigram language-model tokenization per Kudo 2018 ("Subword
Regularization: Improving Neural Network Translation Models with
Multiple Subword Candidates", §3), restructured for Spark's execution
model:

- the corpus collapses to the WORD-FREQUENCY vocab first (the same
  single corpus-wide shuffle BPE uses — at 100 TB every later pass
  runs on the vocab, never the corpus);
- the seed piece inventory is every substring up to ``max_piece_len``
  of every vocab word, occurrence-weighted by word frequency (one
  vocab-sized explode + partial-agg groupBy), cut to all single
  characters plus the top multi-character candidates — the practical
  stand-in for SentencePiece's suffix-array seeding;
- each EM round is ONE distributed job: an Arrow kernel runs the
  forward-backward lattice per vocab word (with a per-batch memo) and
  emits per-piece expected counts QUANTIZED to fixed-point int64
  (round(c · 2^20)) so the cross-word aggregation is an
  order-independent integer sum — expected counts, and therefore the
  learned vocabulary, are partitioning-independent (the same
  exactness discipline as the rest of the repo; the float
  forward-backward itself is per-word, fixed evaluation order);
- pruning follows Kudo's loss criterion: each removable piece is
  scored by the likelihood it would cost if dropped —
  count(x) · (logp(x) − logp(best alternative segmentation of x
  without x)) — computed at the DRIVER over the piece table (pieces
  are short; one Viterbi per piece over the in-memory vocab), single
  characters always kept so every word stays segmentable. Simplified
  vs SentencePiece in two documented ways: MLE M-step (no
  Bayesianized digamma smoothing) and substring seeding (no ESA).

The piece-probability table is driver state shipped to encoders — the
merge-table analog (operators/bpe.py:226). Encoding is Viterbi
segmentation per word inside an Arrow-batched kernel with a per-batch
memo; the corpus pass is a pure map, no shuffle.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .bpe import word_vocab
from .parallelize import local_checkpoint_tracked

#: fixed-point scale for expected counts: order-independent integer
#: sums; resolution 2^-20 per occurrence keeps total error far below
#: any count gap the pruning order could see. int64 headroom: the
#: grand total of expected counts equals the corpus token count, so
#: sums stay exact while tokens x COUNT_FP < 2^63 — ~8.8e12 tokens at
#: the default. Beyond that (a full 100 TB text corpus), pass a
#: smaller ``count_fp`` to :func:`train_unigram` (2^10 buys 10^16
#: tokens; resolution is still far finer than any pruning gap).
COUNT_FP = 1 << 20


def seed_pieces(
    vocab: DataFrame,
    max_piece_len: int = 8,
    seed_size: int = 400,
    min_count: int = 2,
) -> list[tuple[str, int]]:
    """Candidate piece inventory: every substring (length 1..
    ``max_piece_len``) of every vocab word, counted once per
    OCCURRENCE and weighted by word frequency (one vocab-sized explode
    — |word|·L rows per word, never corpus rows). Returns all single
    characters (unconditionally — they keep every word segmentable)
    plus the top ``seed_size`` multi-character candidates by
    (count DESC, piece ASC) with count >= ``min_count``, as
    (piece, raw_count) driver state."""
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.length("word") - i + 1),
                ),
                lambda ln: F.col("word").substr(i, ln),
            ),
        )
    )
    counts = (
        vocab.select("freq", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("c"))
    )
    chars = [
        (r.piece, int(r.c))
        for r in counts.filter(F.length("piece") == 1).collect()
    ]
    multi = [
        (r.piece, int(r.c))
        for r in counts.filter(
            (F.length("piece") > 1) & (F.col("c") >= min_count)
        )
        .orderBy(F.desc("c"), "piece")
        .limit(seed_size)
        .collect()
    ]
    return sorted(chars) + multi


def _forward_backward(word: str, logp: dict[str, float], max_len: int):
    """Expected piece counts for ONE word under the current unigram
    model: standard lattice forward-backward (Kudo §3.2). Returns
    ({piece: expected_count}, log Z). Fixed left-to-right evaluation
    order — deterministic for a given (word, model)."""
    n = len(word)
    neg = float("-inf")
    alpha = [neg] * (n + 1)
    alpha[0] = 0.0
    for i in range(1, n + 1):
        acc = neg
        for j in range(max(0, i - max_len), i):
            lp = logp.get(word[j:i])
            if lp is None or alpha[j] == neg:
                continue
            v = alpha[j] + lp
            acc = v if acc == neg else (
                max(acc, v) + math.log1p(math.exp(-abs(acc - v)))
            )
        alpha[i] = acc
    if alpha[n] == neg:  # unsegmentable (char outside the model)
        return {}, neg
    beta = [neg] * (n + 1)
    beta[n] = 0.0
    for j in range(n - 1, -1, -1):
        acc = neg
        for i in range(j + 1, min(n, j + max_len) + 1):
            lp = logp.get(word[j:i])
            if lp is None or beta[i] == neg:
                continue
            v = lp + beta[i]
            acc = v if acc == neg else (
                max(acc, v) + math.log1p(math.exp(-abs(acc - v)))
            )
        beta[j] = acc
    z = alpha[n]
    out: dict[str, float] = {}
    for j in range(n):
        if alpha[j] == neg:
            continue
        for i in range(j + 1, min(n, j + max_len) + 1):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None or beta[i] == neg:
                continue
            out[piece] = out.get(piece, 0.0) + math.exp(alpha[j] + lp + beta[i] - z)
    return out, z


def _e_step(
    vocab: DataFrame,
    logp: dict[str, float],
    max_len: int,
    count_fp: int = COUNT_FP,
) -> dict[str, int]:
    """One distributed E-step: the forward-backward kernel over the
    word-frequency vocab emits fixed-point expected counts per piece;
    ONE vocab-sized groupBy sums them (integer — order-independent);
    the piece-vocab-sized result collects as driver state (the k·dim
    pattern)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, dict[str, float]] = {}
        for pdf in batches:
            acc: dict[str, int] = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                counts = memo.get(word)
                if counts is None:
                    counts = memo[word] = _forward_backward(word, logp, max_len)[0]
                f = int(freq)
                for piece, c in counts.items():
                    acc[piece] = acc.get(piece, 0) + round(c * count_fp) * f
            yield pd.DataFrame(
                {"piece": list(acc.keys()), "c_fp": list(acc.values())}
            )

    rows = (
        vocab.select("word", "freq")
        .mapInPandas(run, "piece string, c_fp long")
        .groupBy("piece")
        .agg(F.sum("c_fp").alias("c_fp"))
        .collect()
    )
    return {r.piece: int(r.c_fp) for r in rows}


def _m_step(
    counts_fp: dict[str, int], prev_pieces: Iterable[str] = ()
) -> dict[str, float]:
    """MLE update: logp(piece) = log(c / total) from the integer
    counts — computed once at the driver, so every executor sees the
    identical float model next round.

    Single characters are the segmentability floor and are EXEMPT from
    the c > 0 drop: a char absorbed into multi-char pieces can have
    per-occurrence posterior < 2^-COUNT_FP_BITS, round to 0 expected
    count, and vanish — after which _forward_backward returns
    ({}, -inf) for every word containing it and that word's mass is
    silently dropped from all later EM rounds. Such chars (including
    any single-char piece of the previous model that the E-step did
    not emit at all) are kept with a floor count of one fixed-point
    grain."""
    adj = dict(counts_fp)
    for p in prev_pieces:
        if len(p) == 1 and adj.get(p, 0) <= 0:
            adj[p] = 1
    for p, c in counts_fp.items():
        if len(p) == 1 and c <= 0:
            adj[p] = 1
    total = sum(c for c in adj.values() if c > 0)
    return {p: math.log(c) - math.log(total) for p, c in adj.items() if c > 0}


def viterbi(word: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation under the model: maximize summed logp;
    deterministic tie-break — the scan runs j (last-piece start)
    ascending with ``>=``, so on exact ties the LATEST split (shortest
    last piece) wins. Characters outside the model segment as
    themselves with a floor score (the UNK fallback — every input
    stays encodable)."""
    floor = (min(logp.values()) if logp else 0.0) - 32.0
    n = len(word)
    best = [(-math.inf, 0)] * (n + 1)
    best[0] = (0.0, 0)
    for i in range(1, n + 1):
        b, arg = -math.inf, i - 1
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j > 1:
                    continue
                lp = floor
            v = best[j][0] + lp
            if v >= b:  # >= : later j (SHORTER last piece) wins ties
                b, arg = v, j
        best[i] = (b, arg)
    out, i = [], n
    while i > 0:
        j = best[i][1]
        out.append(word[j:i])
        i = j
    return out[::-1]


def train_unigram(
    documents: DataFrame,
    vocab_size: int = 60,
    em_iters: int = 2,
    shrink: float = 0.75,
    max_piece_len: int = 8,
    seed_size: int = 400,
    min_count: int = 2,
    count_fp: int = COUNT_FP,
) -> list[tuple[str, float]]:
    """Learn a unigram-LM piece vocabulary of (at most) ``vocab_size``
    pieces: seed → alternate (EM × ``em_iters``, loss-based prune to
    ``max(vocab_size, ceil(|P|·shrink))``) until the target holds (or
    only single characters remain — the alphabet is the vocabulary
    floor, so a corpus with more distinct characters than
    ``vocab_size`` yields the full alphabet) →
    one final EM pass re-estimates the surviving pieces. Returns the
    sorted (piece, logp) table — driver state, the artifact encoders
    ship (see :func:`piece_table`). Deterministic and
    partitioning-independent: integer fixed-point E-step sums, driver
    M-step, total-order (loss DESC, piece ASC) pruning."""
    if em_iters < 1:
        raise ValueError("em_iters must be >= 1 (pruning needs counts)")
    if not 0.0 < shrink < 1.0:
        raise ValueError(f"shrink must be in (0, 1), got {shrink}")
    vocab, _ = local_checkpoint_tracked(word_vocab(documents))
    seed = seed_pieces(vocab, max_piece_len, seed_size, min_count)
    total = sum(c for _, c in seed)
    logp = {p: math.log(c) - math.log(total) for p, c in seed}
    while True:
        for _ in range(em_iters):
            counts = _e_step(vocab, logp, max_piece_len, count_fp)
            logp = _m_step(counts, prev_pieces=logp)
        n_now = len(logp)
        if n_now <= vocab_size:
            break
        # clamp so every prune round strictly shrinks (ceil rounding
        # could otherwise stall at target == n_now and trip the
        # alphabet-floor break below with multi-char pieces alive)
        target = min(max(vocab_size, math.ceil(n_now * shrink)), n_now - 1)
        # Kudo's pruning loss, driver-side over the piece table: the
        # likelihood cost of dropping x = count(x)·(logp(x) − logp of
        # x's best segmentation into OTHER pieces). Single characters
        # are never dropped (segmentability invariant).
        chars = {p for p in logp if len(p) == 1}
        losses: list[tuple[float, str]] = []
        # Out-of-model pieces in the alt segmentation must be scored
        # with the SAME floor viterbi() itself used when it chose that
        # segmentation — min(rest.values()) - 32 — or the loss value
        # disagrees with the score of the path viterbi picked and the
        # prune ordering skews. min over rest differs from min over
        # logp only when the candidate IS the argmin, so precompute the
        # two smallest values instead of an O(V) min per candidate.
        two_smallest = sorted(logp.items(), key=lambda t: (t[1], t[0]))[:2]
        for p, lp in logp.items():
            if p in chars:
                continue
            rest = dict(logp)
            del rest[p]
            alt = viterbi(p, rest, max_piece_len)
            floor = (
                two_smallest[1][1]
                if len(two_smallest) > 1 and p == two_smallest[0][0]
                else two_smallest[0][1]
            ) - 32.0
            alt_lp = sum(rest.get(s, floor) for s in alt)
            losses.append((counts.get(p, 0) * (lp - alt_lp), p))
        # keep the highest-loss pieces (dropping them would hurt most)
        losses.sort(key=lambda t: (-t[0], t[1]))
        keep = chars | {p for _, p in losses[: max(0, target - len(chars))]}
        if len(keep) == n_now:
            # nothing left to prune: every surviving piece is a
            # single character (alphabet larger than vocab_size).
            # The vocabulary IS the alphabet — stop instead of
            # spinning EM rounds forever.
            break
        logp = {p: lp for p, lp in logp.items() if p in keep}
    counts = _e_step(vocab, logp, max_piece_len, count_fp)
    logp = _m_step(counts, prev_pieces=logp)
    return sorted(logp.items())


# ---------------------------------------------------------------------------
# Piece-table artifact — the merge-table analog (operators/bpe.py:226).
# ---------------------------------------------------------------------------


def piece_table(spark, pieces: list[tuple[str, float]]) -> DataFrame:
    """The persistable (piece, logp) artifact of :func:`train_unigram`."""
    return spark.createDataFrame(pieces, "piece string, logp double")


def save_piece_table(spark, pieces: list[tuple[str, float]], path: str) -> None:
    piece_table(spark, pieces).coalesce(1).write.mode("overwrite").parquet(path)


def load_piece_table(spark, path: str) -> list[tuple[str, float]]:
    return sorted(
        (r.piece, float(r.logp))
        for r in spark.read.parquet(path).select("piece", "logp").collect()
    )


UNIGRAM_ENCODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_words", IntegerType()),
        StructField("n_pieces", IntegerType()),
        StructField("piece_text", StringType()),
    ]
)


def unigram_encode(
    documents: DataFrame,
    pieces: list[tuple[str, float]],
    max_piece_len: int = 8,
) -> DataFrame:
    """Tokenize the corpus with a learned piece table: per-doc
    (n_words, n_pieces, space-joined Viterbi segmentation). The mirror
    of :func:`bpe.bpe_encode` — Arrow-batched pure map, piece table in
    the closure, per-batch word memo. No shuffle at any scale."""
    logp = dict(pieces)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    rows.append(
                        {"doc_id": doc_id, "n_words": None, "n_pieces": None,
                         "piece_text": None}
                    )
                    continue
                words = [w for w in text.split(" ") if w]
                segs: list[str] = []
                for w in words:
                    enc = memo.get(w)
                    if enc is None:
                        enc = memo[w] = viterbi(w, logp, max_piece_len)
                    segs.extend(enc)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_words": len(words),
                        "n_pieces": len(segs),
                        "piece_text": " ".join(segs),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in UNIGRAM_ENCODED_SCHEMA.fields]
            )

    return documents.mapInPandas(run, UNIGRAM_ENCODED_SCHEMA)


def _word_score(
    word: str, logp: dict[str, float], max_len: int, floor: float
) -> tuple[int, float]:
    """(n_pieces, summed logp) of a word's Viterbi segmentation —
    unknown single chars at ``floor`` (viterbi's UNK fallback), so
    every input scores. ``floor`` is a constant of the piece table
    (min logp − 32); callers hoist it out of per-word loops."""
    segs = viterbi(word, logp, max_len)
    return len(segs), sum(logp.get(p, floor) for p in segs)


def word_logp(word: str, logp: dict[str, float], max_len: int) -> float:
    """Viterbi log-probability of one word (see :func:`_word_score`;
    for corpus-sized scoring use :func:`doc_perplexity`, which hoists
    the floor instead of recomputing the O(vocab) min per call)."""
    floor = (min(logp.values()) if logp else 0.0) - 32.0
    return _word_score(word, logp, max_len, floor)[1]


def doc_perplexity(
    documents: DataFrame,
    pieces: list[tuple[str, float]],
    max_piece_len: int = 8,
) -> DataFrame:
    """Per-document LM perplexity under the trained unigram model —
    the CCNet/RedPajama quality signal (Wenzek et al. 2020 filter
    their Common Crawl buckets on exactly this statistic, with KenLM
    in place of the unigram LM): (doc_id, n_pieces, total_logp, ppl)
    with ppl = exp(−total_logp / n_pieces). Low-perplexity documents
    look like the training corpus; gibberish scores high.

    Same execution shape as :func:`unigram_encode`: Arrow-batched pure
    map, the piece table in the closure, per-batch word memo — no
    shuffle at any scale, deterministic under any partitioning (every
    per-word score is an independent pure function). NULL/empty text
    scores NULL."""
    logp = dict(pieces)
    floor = (min(logp.values()) if logp else 0.0) - 32.0  # hoisted once
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_pieces", IntegerType()),
            StructField("total_logp", DoubleType()),
            StructField("ppl", DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, tuple[int, float]] = {}
        for pdf in batches:
            rows = [
                (doc_id,) + _doc_ppl(text, logp, max_piece_len, floor, memo)
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_pieces", "total_logp", "ppl"]
            )

    return documents.select("doc_id", "text").mapInPandas(run, schema)


def _doc_ppl(
    text: str | None,
    logp: dict[str, float],
    max_piece_len: int,
    floor: float,
    memo: dict,
) -> tuple:
    """One document's (n_pieces, total_logp, ppl), pure Python — the
    SINGLE source of truth shared by :func:`doc_perplexity` and the
    streaming curation gate's fused kernel, so the two can never
    desynchronize. ``memo`` caches word->(n, logp) across a batch.
    (None, None, None) for empty/NULL text."""
    words = [w for w in (text or "").split(" ") if w]
    if not words:
        return (None, None, None)
    n, lp = 0, 0.0
    for w in words:
        got = memo.get(w)
        if got is None:
            got = memo[w] = _word_score(w, logp, max_piece_len, floor)
        n += got[0]
        lp += got[1]
    return (n, lp, math.exp(-lp / n))
