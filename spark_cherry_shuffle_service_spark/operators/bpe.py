"""Distributed BPE tokenizer-vocabulary training over the documents corpus.

Byte-pair encoding (Sennrich et al. 2016) is THE tokenizer-training step
of an LLM data pipeline; text_tokenizer_compression measures fertility of
a fixed tokenizer, this operator LEARNS the merge table. The classic
implementation is a single-machine loop over the corpus; the Spark-first
decomposition exploits the standard trick that BPE statistics only depend
on the DISTINCT-WORD vocabulary with counts, never the corpus itself:

  1. One corpus scan: explode words -> groupBy word -> count. At 100 TB
     this is the only pass over the data (map-side combined); the result
     is the vocab table (~1e8 rows for a web corpus), persisted once.
  2. Per merge round, all on the vocab table:
       - pair counts: per-word adjacent symbol pairs (shifted-zip, the
         functions/text.py construction) exploded and summed weighted by
         word count — one small map-side-combined shuffle;
       - argmax pair with full deterministic tiebreak (count desc, then
         left asc, right asc) — a 1-row, SF-invariant driver collect
         (same bounded-collect pattern as kmeans centroids and
         ranking.py boundaries);
       - merge applied as a JVM-side F.aggregate fold over each word's
         symbol array (left-to-right, non-overlapping — "aaa" + (a,a)
         -> [aa, a]); the chosen pair enters the plan as a LITERAL, so
         no Python touches a row. Per-round persist per the iterative
         rule (CLAUDE.md); all rounds released at the end.

The merge table (one row per round) is the learned artifact — bounded by
the round count, independent of scale.

Determinism: word/pair counts are exact integers; the tiebreak totally
orders candidate pairs; the fold is a pure function of (syms, pair). The
result is bit-identical at any parallelism, which the pure-Python oracle
twin (_bpe_oracle_py) checks end-to-end. No SQL oracle: the merge
recursion (round k's counts depend on round k-1's rewrite) has no
fixed-shape SQL form — this is exactly the registry's oracle_py-only
case, recorded as "match (py-oracle)" by the compare harness and
rows-only by the grading driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.functions.text import tokens
from spark_cherry_shuffle_service_spark.plans.registry import query
from spark_cherry_shuffle_service_spark.sources.catalog import pin, table


_BPE_MERGES = 8


def _sym_pairs(syms: Column) -> Column:
    """Adjacent (left, right) symbol pairs as structs — the shifted-zip
    construction (functions/text.py), never element_at indexing."""
    n = F.size(syms)
    zipped = F.zip_with(
        syms, F.slice(syms, 2, n), lambda a, b: F.struct(a.alias("l"), b.alias("r"))
    )
    return F.slice(zipped, F.lit(1), F.greatest(n - 1, F.lit(0)))


def merge_pair(syms: Column, left: str, right: str) -> Column:
    """Replace left-to-right non-overlapping (left, right) occurrences in a
    symbol array with the concatenated symbol — the BPE rewrite step, as a
    JVM fold (struct accumulator: emitted prefix + one pending symbol)."""
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc: Column, s: Column) -> Column:
        return (
            F.when(acc["pend"].isNull(), F.struct(acc["out"].alias("out"), s.alias("pend")))
            .when(
                (acc["pend"] == left) & (s == right),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"), s.alias("pend")
                )
            )
        )

    def finish(acc: Column) -> Column:
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms, init, step, finish)


def _train_py(word_counts: list[tuple[str, int]]) -> list[tuple[int, str, str, str, int]]:
    """Pure-Python BPE trainer: same pair statistics, same (count desc,
    pair asc) tiebreak, same left-to-right non-overlapping rewrite as the
    Spark loop. Shared by the train and apply oracles."""
    vocab = [(list(word), int(cnt)) for word, cnt in word_counts]
    merges: list[tuple[int, str, str, str, int]] = []
    for step_no in range(1, _BPE_MERGES + 1):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab:
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + cnt
        if not pair_counts:
            break
        (left, right), pc = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step_no, left, right, left + right, pc))
        merged = left + right
        new_vocab = []
        for syms, cnt in vocab:
            out: list[str] = []
            pend: str | None = None
            for s in syms:
                if pend is None:
                    pend = s
                elif pend == left and s == right:
                    out.append(merged)
                    pend = None
                else:
                    out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            new_vocab.append((out, cnt))
        vocab = new_vocab
    return merges


def _duck_word_counts(con) -> list[tuple[str, int]]:
    return con.execute(
        """
        SELECT term, COUNT(*) AS c
        FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS term FROM documents)
        WHERE length(term) > 0
        GROUP BY term
        """
    ).fetchall()


def _bpe_oracle_py(con, sf_dir: str):
    """Independent twin of text_bpe_train: DuckDB word counts + the
    pure-Python trainer. Independent of every Spark code path — shared is
    only the ALGORITHM, which is the thing under test."""
    return ["step", "left", "right", "merged", "pair_cnt"], _train_py(_duck_word_counts(con))


#: Merge-table memo keyed by (sf_dir, documents-file mtime): the merge
#: table is a pure deterministic function of the corpus, so text_bpe_apply
#: reuses text_bpe_train's result instead of paying the 8-round training
#: loop twice per suite run (ADVICE r7). The mtime key invalidates the memo
#: if a generated fixture dir is rewritten in-process (genscale --force).
_TRAIN_MEMO: dict[tuple[str, float], list[tuple[int, str, str, str, int]]] = {}


def _docs_mtime(sf_dir: str) -> float:
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    try:
        return os.path.getmtime(path)
    except OSError:
        return -1.0


def _train(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, str, int]]:
    """The distributed training loop (see module docstring); returns the
    merge table as plain tuples — bounded by the round count, so both
    text_bpe_train (which tabulates it) and text_bpe_apply (which enters
    it as fold literals) can share it. Memoized per corpus (see
    _TRAIN_MEMO)."""
    memo_key = (sf_dir, _docs_mtime(sf_dir))
    cached = _TRAIN_MEMO.get(memo_key)
    if cached is not None:
        return cached
    par = spark.sparkContext.defaultParallelism
    docs = table(spark, sf_dir, "documents").repartition(par, "doc_id")
    words = docs.select(F.explode(tokens(F.col("text"))).alias("w")).filter(F.length("w") > 0)
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.split(F.col("w"), "").alias("syms"), "cnt")
        .transform(pin)
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for step_no in range(1, _BPE_MERGES + 1):
        top = (
            vocab.select(F.explode(_sym_pairs(F.col("syms"))).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, pc = top[0]["l"], top[0]["r"], int(top[0]["pc"])
        merges.append((step_no, left, right, left + right, pc))
        vocab = vocab.select(merge_pair(F.col("syms"), left, right).alias("syms"), "cnt").transform(pin)
    _TRAIN_MEMO[memo_key] = merges
    return merges


@query(
    "text_bpe_train",
    oracle=None,  # not SQL-expressible (data-dependent recursion) — the
    # Python twin adjudicates values; the driver records rows-only.
    oracle_py=_bpe_oracle_py,
    tags=("text", "tokenizer", "iterative", "scale"),
    doc="Learn an 8-step BPE merge table from the corpus: one corpus scan "
    "to a counted distinct-word vocab, then per round one pair-count "
    "shuffle + a 1-row argmax collect + a literal-driven JVM rewrite fold.",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(
        _train(spark, sf_dir),
        "step int, left string, right string, merged string, pair_cnt bigint",
    )


def _apply_merges_py(word: str, merges) -> int:
    """Token count of `word` under the merge table — the same
    left-to-right non-overlapping rewrite, one pass per merge in order."""
    syms = list(word)
    for _step, left, right, merged, _pc in merges:
        out: list[str] = []
        pend: str | None = None
        for s in syms:
            if pend is None:
                pend = s
            elif pend == left and s == right:
                out.append(merged)
                pend = None
            else:
                out.append(pend)
                pend = s
        if pend is not None:
            out.append(pend)
        syms = out
    return len(syms)


def _bpe_apply_oracle_py(con, sf_dir: str):
    merges = _train_py(_duck_word_counts(con))
    rows = con.execute(
        """
        SELECT source, term, COUNT(*) AS c
        FROM (SELECT source,
                     unnest(string_split_regex(trim(text), ' +')) AS term
              FROM documents)
        WHERE length(term) > 0
        GROUP BY source, term
        """
    ).fetchall()
    out: dict[str, tuple[int, int, int]] = {}
    for source, word, cnt in rows:
        words, chars, toks = out.get(source, (0, 0, 0))
        out[source] = (
            words + cnt,
            chars + len(word) * cnt,
            toks + _apply_merges_py(word, merges) * cnt,
        )
    return ["source", "words", "chars", "bpe_tokens"], [
        (s, w, ch, t) for s, (w, ch, t) in sorted(out.items())
    ]


@query(
    "text_bpe_apply",
    oracle=None,  # same oracle_py-only class as text_bpe_train
    oracle_py=_bpe_apply_oracle_py,
    tags=("text", "tokenizer", "scale"),
    doc="Tokenize the corpus with the merge table text_bpe_train learns: "
    "per-source word/char/BPE-token totals. Apply is a chain of "
    "literal-driven JVM folds over the per-source distinct-word vocab — "
    "the corpus is scanned once for word counts; no Python touches a row.",
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train (the same loop as text_bpe_train), then APPLY: compression
    stats per source under the learned tokenizer — the fertility
    measurement text_tokenizer_compression does for a FIXED regex
    tokenizer, now for the corpus-trained one. The merge table is bounded
    (one row per round), so entering it as fold literals is the
    kmeans-centroid pattern, not a data collect. Real tokenizers apply
    merges per DISTINCT word and multiply by count — exactly what the
    vocab grain gives: the 8-fold chain runs over ~vocab rows, never the
    corpus."""
    merges = _train(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    docs = table(spark, sf_dir, "documents").repartition(par, "doc_id")
    words = docs.select("source", F.explode(tokens(F.col("text"))).alias("w")).filter(
        F.length("w") > 0
    )
    vocab = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("cnt"))
    syms = F.split(F.col("w"), "")
    for _step, left, right, _merged, _pc in merges:
        syms = merge_pair(syms, left, right)
    per_word = vocab.select(
        "source", "cnt", F.length("w").alias("n_chars"), F.size(syms).alias("n_toks")
    )
    return (
        per_word.groupBy("source")
        .agg(
            F.sum("cnt").alias("words"),
            F.sum(F.col("n_chars") * F.col("cnt")).alias("chars"),
            F.sum(F.col("n_toks") * F.col("cnt")).alias("bpe_tokens"),
        )
        .select(
            "source",
            F.col("words").cast("bigint").alias("words"),
            F.col("chars").cast("bigint").alias("chars"),
            F.col("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        )
    )
