"""Iterative BPE tokenizer training — the full merge-learning loop.

``textanalysis.bpe_pair_counts`` computes ONE training iteration's
candidate table; this module runs the actual algorithm (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units"): repeatedly count adjacent symbol pairs over the
frequency-weighted vocabulary, merge the argmax pair everywhere, and
record the merge — the step a training-data pipeline runs between
corpus curation and tokenization.

Scale shape: the corpus collapses ONCE to the (word, freq) vocabulary
— the reference's word count, a distributed map/reduce. Merge
learning then runs as ONE Spark job: the vocabulary words of ≥ 2
symbols shuffle to a single partition, and one ``mapInPandas`` task
learns every merge with Sennrich's incremental pair index (pair →
words holding it), so each merge touches only the words that contain
the merged pair. That task holds the whole multi-symbol vocabulary —
O(V·L) memory for V words of mean length L, the shape production
tokenizer trainers have too — and yields at most ``n_merges`` rows,
the driver-side bound by construction. The job count is constant in
``n_merges``; the previous per-merge loop (one aggregate + one top-1
collect per merge) paid two Spark jobs per merge, 64k jobs for a
32k-merge vocabulary.

Symbols are Unicode code points (``list(word)``), so characters
outside the Basic Multilingual Plane stay whole — a JVM regex split
sees UTF-16 and cuts such a character into two ``?`` halves.

The greedy left-to-right non-overlapping merge semantics (standard
BPE: "aaaa" + (a,a) → [aa, aa]) is ONE module-level function,
``_merge_pass``, shared by the trainer and the encoder kernel.
Greedy/overlap/tiebreak semantics are pinned against a pure-Python
reference implementation in tests AND against a full SQL oracle: the
argmax-per-iteration recursion IS expressible for a fixed merge
budget as an unrolled MATERIALIZED-CTE chain (``_bpe_chain`` — the
k-truss unroll discipline), with the greedy merge pass mirrored by a
delimiter-wrapped ``replace``. Both bpe_train_merges and
bpe_encode_docs are hash-checked end to end.
"""

from __future__ import annotations

import heapq
import re
from collections import defaultdict
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_rust_spark.functions.text import WS_RE
from mapreduce_rust_spark.memo import session_memo
from mapreduce_rust_spark.tables import _local_rows

N_MERGES = 8

MERGES_SCHEMA = ("step int, left string, right string, merged string, "
                 "pair_count long")

# Java's ``\s`` (the JVM split in ``_word_freqs``) is ASCII-only:
# [ \t\n\x0B\f\r] — exactly Python's ``\s`` under re.ASCII
_WS_SPLIT = re.compile(WS_RE, re.ASCII)


def _word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_rust_spark.llm.textanalysis import _tok_table
    return (_tok_table(spark, sf_dir)
            .groupBy(F.col("tok").alias("w"))
            .agg(F.count("*").alias("freq")))


def _merge_pass(syms: list[str], left: str, right: str,
                merged: str) -> list[str]:
    """One greedy left-to-right non-overlapping pass of the merge
    (left, right) → merged over a symbol list. A merged symbol is never
    re-examined within its own pass, so "aaa" + (a,a) → [aa, a]."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _encode(word: str, merges: list[tuple]) -> list[str]:
    """A word's subwords: its code points, then one ``_merge_pass`` per
    learned merge, in training order."""
    syms = list(word)
    for _step, left, right, merged, _c in merges:
        if len(syms) < 2:
            break
        syms = _merge_pass(syms, left, right, merged)
    return syms


def _learn_merges(vocab, n_merges: int) -> list[tuple]:
    """Sennrich's incremental trainer over (word, freq) pairs. Returns
    [(step, left, right, merged, pair_count), ...], at most n_merges.

    ``counts`` holds every adjacent pair's frequency-weighted count and
    ``where`` the words that held the pair when it was indexed. A
    merge re-segments only ``where[pair]``: each such word withdraws
    its old pairs' counts and deposits its new ones. Index entries go
    stale when a word loses a pair to an earlier merge; the re-segment
    is then a no-op and the word is skipped. The argmax is a lazy heap
    of (-count, left, right) — entries whose count no longer matches
    ``counts`` are discarded on pop — so ties break on (left, right)
    ascending, the oracle's ORDER BY c DESC, lft, rgt."""
    words: list[list[str]] = []
    freqs: list[int] = []
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for w, f in vocab:
        syms = list(w)
        if len(syms) < 2:
            continue
        for p in zip(syms, syms[1:]):
            counts[p] += f
            where[p].add(len(words))
        words.append(syms)
        freqs.append(f)
    heap = [(-c, l, r) for (l, r), c in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple] = []
    while len(merges) < n_merges:
        while heap and counts.get(heap[0][1:], 0) != -heap[0][0]:
            heapq.heappop(heap)
        if not heap:
            break
        neg_c, left, right = heapq.heappop(heap)
        merged = left + right
        merges.append((len(merges) + 1, left, right, merged, -neg_c))
        touched = set()
        for i in where.pop((left, right)):
            old = words[i]
            new = _merge_pass(old, left, right, merged)
            if len(new) == len(old):
                continue  # stale entry: an earlier merge took the pair
            f = freqs[i]
            for p in zip(old, old[1:]):
                counts[p] -= f
                touched.add(p)
            for p in zip(new, new[1:]):
                counts[p] += f
                touched.add(p)
                where[p].add(i)
            words[i] = new
        for p in touched:
            if counts[p] > 0:
                heapq.heappush(heap, (-counts[p],) + p)
            else:
                del counts[p]
    return merges


def _train_batches(batches, n_merges: int):
    """mapInPandas kernel over the single vocabulary partition: learn
    every merge in one task, yield ≤ n_merges rows."""
    vocab = []
    for pdf in batches:
        vocab.extend(zip(pdf["w"].tolist(), pdf["freq"].tolist()))
    cols = ["step", "left", "right", "merged", "pair_count"]
    yield pd.DataFrame(_learn_merges(vocab, n_merges), columns=cols) \
        .astype({"step": "int32", "pair_count": "int64"})


# The learned merge list is a ``result`` session memo: BOTH registered
# BPE queries learn the same merges from the same corpus vocabulary
# (bpe_train_merges reports them; bpe_encode_docs applies them). Keyed
# by the input plan and n_merges; the value is a driver-side list of
# ≤ n_merges 5-tuples.
def bpe_train(words: DataFrame, n_merges: int) -> list[tuple]:
    """Learn ``n_merges`` BPE merges from a (w, freq) vocabulary.
    Returns [(step, left, right, merged, pair_count), ...].
    Deterministic: argmax ties break on (left, right) ascending.

    Scale shape: one Spark job whatever ``n_merges`` is. Words of ≥ 2
    code points shuffle to ONE partition and a single ``mapInPandas``
    task runs ``_learn_merges`` over them — O(V·L) memory in that task
    for V such words of mean length L. The task yields ≤ ``n_merges``
    rows, so the driver collect is bounded by construction."""
    merges = session_memo(
        words.sparkSession, "result",
        ("bpe_merges", words.semanticHash(), n_merges),
        lambda: _train(words, n_merges))
    return list(merges)


def _train(words: DataFrame, n_merges: int) -> list[tuple]:
    # single-symbol words hold no pair and never change: they stay out
    # of the one task (Spark's length counts code points)
    rows = (words.filter(F.length("w") >= 2)
                 .repartition(1)
                 .mapInPandas(partial(_train_batches, n_merges=n_merges),
                              MERGES_SCHEMA)
                 .collect())  # ≤ n_merges rows
    return sorted((r.step, r.left, r.right, r.merged, r.pair_count)
                  for r in rows)


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table over ``documents`` (N_MERGES rows:
    step, left, right, merged, pair_count), a JVM relation built on the
    driver: reading it starts no Python task."""
    merges = bpe_train(_word_freqs(spark, sf_dir), N_MERGES)
    return _local_rows(spark, merges, MERGES_SCHEMA)


def _encode_batches(batches, merges: list[tuple]):
    """mapInPandas kernel: per document, the whitespace-token count and
    the subword count after the merges. Each distinct token is encoded
    once per partition (a corpus repeats its vocabulary)."""
    n_sub: dict[str, int] = {}
    for pdf in batches:
        n_tokens, n_subwords = [], []
        for text in pdf["text"]:
            toks = [t for t in _WS_SPLIT.split(text) if t] if text else []
            total = 0
            for t in toks:
                n = n_sub.get(t)
                if n is None:
                    n = n_sub[t] = len(_encode(t, merges))
                total += n
            n_tokens.append(len(toks))
            n_subwords.append(total)
        yield pd.DataFrame({"doc_id": pdf["doc_id"],
                            "n_tokens": n_tokens, "n_subwords": n_subwords},
                           index=pdf.index).astype({"n_tokens": "int64",
                                                    "n_subwords": "int64"})


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode every document with the merge
    table ``bpe_train`` just learned — the deploy half of the
    tokenizer story (train on the corpus, then tokenize the corpus
    with the result). Reports per-doc whitespace-token count, subword
    count after the merges, and the exact compression ratio.

    Scale shape: the merge table is tiny (N_MERGES rows, already
    driver-side from training — a real deployment broadcasts a stored
    ~10⁴-row table the same way) and ships as a kernel argument;
    encoding is then a ZERO-shuffle ``mapInPandas`` scan. Per token,
    the kernel splits code points and runs ``_merge_pass`` once per
    merge in training order — the trainer's own function — with a
    per-partition cache of distinct tokens. Per-doc totals are
    in-row, so nothing moves between executors. Oracled since round 9:
    the merge table IS learnable relationally (``_bpe_chain`` unrolls
    the training loop), so the oracle re-trains and re-encodes end to
    end; the encode is additionally pinned against a pure-Python
    greedy-merge reference in tests/test_graph_bpe.py."""
    from mapreduce_rust_spark.tables import load_table
    merges = bpe_train(_word_freqs(spark, sf_dir), N_MERGES)
    docs = load_table(spark, sf_dir, "documents")
    schema = T.StructType([docs.schema["doc_id"],
                           T.StructField("n_tokens", T.LongType()),
                           T.StructField("n_subwords", T.LongType())])
    d = (docs.select("doc_id", "text")
             .mapInPandas(partial(_encode_batches, merges=merges), schema))
    # fertility = subwords emitted per whitespace token (≥ 1; lower =
    # better merge coverage), the standard tokenizer-quality metric
    return d.select(
        "doc_id", "n_tokens", "n_subwords",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
         .otherwise(F.col("n_subwords").cast("double") / F.col("n_tokens"))
         .alias("fertility"))


REGISTRATIONS = [
    ("bpe_train_merges", bpe_train_merges, None),
    ("bpe_encode_docs", bpe_encode_docs, None),
]


def _bpe_chain(carry_w: bool, n_merges: int = N_MERGES) -> str:
    """The shared unrolled (pair-count → argmax → merge-apply) CTE
    chain for both BPE oracles — the ``ktruss_edges_parts``
    discipline applied to the training LOOP, one MATERIALIZED round
    per learned merge, so DuckDB re-runs the exact greedy algorithm.

    The merge application mirrors the Spark fold via a delimiter
    trick: each symbol is individually wrapped (``\\x1f sym \\x1f``),
    and ``replace(s, ␟l␟␟r␟, ␟lr␟)`` is exactly the left-to-right
    non-overlapping greedy pass — SQL ``replace`` scans forward and
    never rescans emitted text, and ``merged == left`` would need an
    empty right symbol, so neither engine can chain within a pass.
    Argmax ties break (count DESC, left, right) on both sides.
    ``carry_w`` keeps the word key through the chain (the encode
    oracle joins the final symbol table back to documents).

    Vocabulary exhaustion: when no pair remains before round
    ``n_merges`` the Spark trainer breaks early, so ``m{{r}}`` must be
    allowed to be EMPTY without emptying the symbol table — ``w{{r}}``
    is a LEFT JOIN ON TRUE with ``COALESCE(replace(...), s)`` so an
    empty argmax carries ``w{{r-1}}`` through unchanged (an inner
    cross join would zero every doc's counts on a degenerate
    corpus)."""
    S = "chr(31)"
    wc = "w, " if carry_w else ""
    out = [f"""
tok AS (
  SELECT t.tok AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents) t
  GROUP BY t.tok
),
w0 AS MATERIALIZED (
  SELECT {wc}freq,
         {S} || array_to_string(string_split(w, ''), {S} || {S}) || {S}
           AS s
  FROM tok
)"""]
    for r in range(1, n_merges + 1):
        out.append(f""",
p{r} AS (
  SELECT u.z[1] AS lft, u.z[2] AS rgt, CAST(SUM(freq) AS BIGINT) AS c
  FROM (SELECT freq,
               string_split(trim(s, {S}), {S} || {S}) AS syms
        FROM w{r - 1}) t,
       UNNEST(list_zip(syms[1:len(syms) - 1], syms[2:len(syms)]))
         AS u(z)
  GROUP BY 1, 2
),
m{r} AS MATERIALIZED (
  SELECT {r} AS step, lft, rgt, lft || rgt AS merged, c
  FROM p{r} ORDER BY c DESC, lft, rgt LIMIT 1
),
w{r} AS MATERIALIZED (
  SELECT {wc}freq,
         COALESCE(replace(s, {S} || lft || {S} || {S} || rgt || {S},
                          {S} || merged || {S}), s) AS s
  FROM w{r - 1} LEFT JOIN m{r} ON TRUE
)""")
    return "".join(out)


def _bpe_train_oracle(n_merges: int = N_MERGES) -> str:
    union = "\nUNION ALL\n".join(
        f'SELECT CAST(step AS INT) AS step, lft AS "left", '
        f'rgt AS "right", merged, c AS pair_count FROM m{r}'
        for r in range(1, n_merges + 1))
    return "WITH" + _bpe_chain(carry_w=False) + "\n" + union


def _bpe_encode_oracle(n_merges: int = N_MERGES) -> str:
    """Per-doc encode readout from the SAME learned chain: the final
    symbol table (word → merged symbol count) joins back to the
    token stream; empty docs keep n_tokens = 0 via the LEFT JOIN."""
    S = "chr(31)"
    return f"""WITH{_bpe_chain(carry_w=True)},
enc AS (
  SELECT w, CAST(len(string_split(trim(s, {S}), {S} || {S}))
                 AS BIGINT) AS n_sub
  FROM w{n_merges}
),
dtok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> '')) AS tok
  FROM documents
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(n_sub) AS BIGINT) AS n_subwords
  FROM dtok JOIN enc ON dtok.tok = enc.w
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(n_tokens, 0) AS n_tokens,
       COALESCE(n_subwords, 0) AS n_subwords,
       CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0.0
            ELSE CAST(n_subwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       END AS fertility
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
"""


BPE_TRAIN_ORACLE = _bpe_train_oracle()

# bpe_train_merges registered rows-only above (the oracle text is
# defined below the list); promote it — the training loop is now
# fully re-derived relationally, converting the tokenizer-training
# flagship from rows-only to hash-checked
BPE_ENCODE_ORACLE = _bpe_encode_oracle()

_PROMOTED = {"bpe_train_merges": BPE_TRAIN_ORACLE,
             "bpe_encode_docs": BPE_ENCODE_ORACLE}
REGISTRATIONS[:] = [(n, f, _PROMOTED.get(n, o)) for n, f, o in REGISTRATIONS]
