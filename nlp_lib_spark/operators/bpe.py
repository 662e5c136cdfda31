"""Real BPE token counting with a frozen merge table.

Training-data pipelines budget, pack, and bill by TOKENIZER tokens, not
whitespace words — ``token_counts``'s regex/len-4 columns are estimates;
this operator runs an actual byte-pair-encoding merge loop and certifies
the exact token sequence (reference parity target: the reference counts
whitespace tokens only — frozen tokenizer at kernels/text.py:51 — so this
is a pipeline addition, not a port).

Algorithm (identical, by construction, in the Spark-side Python and the
gate's DuckDB recursive-CTE oracle): start from the word's characters;
repeatedly find the LOWEST-RANK merge whose pair is adjacent anywhere in
the symbol string and rewrite that pair's LEFTMOST occurrence; stop when
no table pair is adjacent. One occurrence per step (not replace-all)
keeps the SQL replay a single ``instr``+``substr`` rewrite per recursion
level with no overlapping-match ambiguity; for a merge table produced by
actual BPE training (every merge's parts are earlier merges or chars, so
any pair involving a merge's output ranks AFTER it) this is the classic
BPE tokenization.

Scale shape: the merge table is FROZEN IN CODE, so tokenization is a
pure per-document function — one mapInPandas over (id, text) with a
per-worker word cache (Zipf makes the hot vocabulary tiny next to the
corpus), ZERO Exchanges. The first cut exploded words, tokenized the
distinct vocabulary, and joined back; that shuffles the entire corpus
twice at word granularity and rehearsed 7.4x wall for 5x rows — the
explode/join path (kept as ``bpe_vocab`` for vocab audits and
data-dependent tables) is the wrong plan when the table is static.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from nlp_lib_spark.operators.canonicalize import (_persistent_ids,
                                                  _unpersist_rdd_ids)

# Frozen merge table: classic BPE trained offline on the corpus
# vocabulary (scripts/train_bpe.py regenerates it; most-frequent adjacent
# pair per step, ties broken lexicographically). Rank = position.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("p", "a"), ("pa", "r"), ("m", "er"), ("a", "t"),
    ("s", "c"), ("sc", "a"), ("sca", "n"), ("o", "lu"), ("olu", "m"),
    ("olum", "n"), ("c", "olumn"), ("w", "in"), ("win", "d"),
    ("wind", "ow"), ("or", "d"), ("ord", "er"), ("s", "or"),
    ("sor", "t"),
)

_RANKS = {pair: i for i, pair in enumerate(BPE_MERGES)}


def bpe_word(word: str, ranks: dict[tuple[str, str], int] | None = None
             ) -> list[str]:
    """Tokenize one word: min-rank pair, leftmost occurrence, repeat."""
    ranks = _RANKS if ranks is None else ranks
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _tokenize_vocab(batches):
    """mapInPandas body: (word) -> (word, toks, n_sym); memoized within
    the worker — across batches the vocabulary repeats heavily."""
    cache: dict[str, tuple[str, int]] = {}
    for pdf in batches:
        toks, nsym = [], []
        for w in pdf["word"]:
            hit = cache.get(w)
            if hit is None:
                syms = bpe_word(w)
                hit = (" ".join(syms), len(syms))
                cache[w] = hit
            toks.append(hit[0])
            nsym.append(hit[1])
        yield pd.DataFrame({"word": pdf["word"], "toks": toks,
                            "n_sym": pd.array(nsym, dtype="int64")})


def bpe_vocab(words: DataFrame) -> DataFrame:
    """(word) -> (word, toks, n_sym) over a distinct-word frame."""
    return words.mapInPandas(_tokenize_vocab,
                             "word string, toks string, n_sym long")


def _tokenize_docs(id_col: str, text_col: str,
                   ranks: dict[tuple[str, str], int] | None = None):
    """mapInPandas body: (id, text) -> (id, n_bpe_tokens, bpe_md5); the
    per-word merge loop is memoized per worker, so the Python cost is
    O(distinct words seen by this worker), not O(corpus words).
    ``ranks`` defaults to the frozen table; bpe_train passes its learned
    table (captured in the closure — a k-row broadcast, not data)."""
    import hashlib

    def run(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            ids, counts, md5s = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks: list[str] = []
                for w in t.split(" "):
                    if not w:
                        continue
                    hit = cache.get(w)
                    if hit is None:
                        hit = bpe_word(w, ranks)
                        cache[w] = hit
                    toks.extend(hit)
                if not toks:
                    continue  # no tokenizable words: match the SQL
                    # oracle's inner join, which emits no row
                ids.append(i)
                counts.append(len(toks))
                md5s.append(hashlib.md5(
                    " ".join(toks).encode("utf-8")).hexdigest())
            yield pd.DataFrame({id_col: pd.array(ids, dtype="int64"),
                                "n_bpe_tokens": pd.array(counts,
                                                         dtype="int64"),
                                "bpe_md5": md5s})
    return run


def bpe_token_counts(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """-> one row per document (with at least one non-empty word): exact
    BPE token count and the md5 of the full space-joined token sequence
    (certifying the tokenization itself, not just its length).

    Plan: Scan -> one mapInPandas -> done. Tokenization under a frozen
    merge table is a pure per-document function, so there is NOTHING to
    shuffle; the doc-level md5 is computed inside the Arrow pass (UTF-8
    md5 — bit-identical to Spark's md5() over a string column)."""
    return df.select(id_col, text_col).mapInPandas(
        _tokenize_docs(id_col, text_col),
        f"{id_col} long, n_bpe_tokens long, bpe_md5 string")


def bpe_merges_values_sql() -> str:
    """The frozen merge table as a SQL VALUES list (rank, l, r) — shared
    by the DuckDB oracle so both engines replay one table."""
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"
    return ", ".join(f"({i}, {q(l)}, {q(r)})"
                     for i, (l, r) in enumerate(BPE_MERGES))


def bpe_recursive_cte_sql(words_src: str) -> str:
    """DuckDB CTE chain replaying ``bpe_word`` (min-rank pair, leftmost
    occurrence, repeat) over the distinct words of ``words_src`` (any
    relation exposing a ``word`` column). ONE definition shared by the
    gate oracle and the pytest fuzz harness so the replay cannot drift
    between them. Splice after ``WITH RECURSIVE m(rank, l, r) AS
    (VALUES ...),``; the result exposes ``tok(word, toks, n_sym)``.

    ``(?s).`` in the symbol split: RE2's bare ``.`` skips newlines while
    Python's ``list(word)`` keeps every character — the DOTALL flag makes
    the two sides identical on any input, not just newline-free corpora."""
    return f"""w AS (SELECT DISTINCT word FROM {words_src}
      WHERE word <> ''),
init AS (SELECT word,
                ' ' || array_to_string(
                         regexp_extract_all(word, '(?s).'), ' ')
                || ' ' AS s,
                0 AS n
         FROM w),
step(word, s, n) AS (
  SELECT * FROM init
  UNION ALL
  SELECT t.word,
         substr(t.s, 1, t.pos - 1) || ' ' || t.l || t.r || ' '
           || substr(t.s, t.pos + length(t.pat)),
         t.n + 1
  FROM (
    SELECT s.word, s.s, s.n, mm.l, mm.r,
           ' ' || mm.l || ' ' || mm.r || ' ' AS pat,
           instr(s.s, ' ' || mm.l || ' ' || mm.r || ' ') AS pos
    FROM step s
    JOIN m mm ON mm.rank = (
        SELECT min(m2.rank) FROM m m2
        WHERE instr(s.s, ' ' || m2.l || ' ' || m2.r || ' ') > 0)
  ) t
),
fin AS (SELECT word, s, n,
               row_number() OVER (PARTITION BY word ORDER BY n DESC) AS rn
        FROM step),
tok AS (SELECT word, trim(s) AS toks,
               len(string_split(trim(s), ' ')) AS n_sym
        FROM fin WHERE rn = 1)"""


# --------------------------------------------------------------------------
# Distributed BPE TRAINING (round 5)
# --------------------------------------------------------------------------
# scripts/train_bpe.py trains the frozen table offline on the driver; a
# real pipeline (re)trains its tokenizer ON the cluster, over the corpus
# it is about to tokenize.  bpe_train_merges is that operator: classic
# Sennrich-2016 BPE — count adjacent symbol pairs frequency-weighted over
# the VOCABULARY (distinct words), merge the most frequent pair (ties:
# lexicographically largest, matching scripts/train_bpe.py's
# max((count, pair))), repeat.
#
# Scale shape: the vocabulary frame is corpus-size-INDEPENDENT (Zipf:
# distinct words, not words), built by one word-level groupBy.  Each
# training round is one groupBy (l, r) with map-side partial aggregation
# over the vocab frame plus one 1-row collect (the winning pair — the
# k-means-centroid convention for tiny driver round-trips), and one
# narrow literal-string replace.  Nothing data-sized ever reaches the
# driver.
#
# Merge application during a round is replace-all, leftmost,
# non-overlapping (the Python trainer's left-to-right scan).  Symbols
# are joined with TWO spaces ('  a  b  c  '): each occurrence of the
# pattern ' l  r ' then owns its boundary spaces exclusively, so SQL
# replace() — leftmost, non-overlapping, no rescan of the replacement —
# merges exactly the occurrences the Python scan merges, and the
# single-space-bounded replacement ' lr ' restores the double-space
# invariant from its neighbours' remaining spaces.  The same encoding is
# replayed verbatim by the DuckDB oracle (bpe_train_rounds_cte_sql).

def bpe_train_merges(docs: DataFrame, n_merges: int = 8,
                     text_col: str = "text") -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from ``docs`` (any frame with a
    whitespace-tokenizable ``text_col``).  Returns the merge table in
    creation order (rank = index).

    Each round's vocabulary is a localCheckpoint; the superseded one is
    freed at the RDD layer as soon as its successor exists, and the last
    one before returning (the result is a Python list)."""
    sc = docs.sparkSession.sparkContext
    pre = _persistent_ids(sc)
    vocab = (docs
             .select(F.explode(F.split(text_col, " ")).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
             .select(F.concat(
                 F.expr("regexp_replace(word, '(?s)(.)', '  $1')"),
                 F.lit("  ")).alias("s"), "n")
             .localCheckpoint())
    own = _persistent_ids(sc) - pre
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (vocab
               .select("n", F.expr("split(trim(s), '  ')").alias("syms"))
               .select("n", F.expr(
                   "explode(CASE WHEN size(syms) >= 2 THEN "
                   "transform(sequence(0, size(syms) - 2), "
                   "i -> struct(syms[i] AS l, syms[i + 1] AS r)) "
                   "ELSE array() END)").alias("p"))
               .groupBy("p.l", "p.r").agg(F.sum("n").alias("cnt"))
               .orderBy(F.desc("cnt"), F.desc("l"), F.desc("r"))
               .limit(1).collect())
        if not top:
            break  # vocabulary fully merged / no multi-symbol words
        l, r = top[0].l, top[0].r
        merges.append((l, r))
        # F.replace with literal Columns: exact string match, no regex,
        # no SQL-text interpolation of data-derived symbols (the
        # sampling.py injection lesson)
        pre = _persistent_ids(sc)
        vocab = vocab.select(
            F.replace(F.col("s"), F.lit(f" {l}  {r} "),
                      F.lit(f" {l}{r} ")).alias("s"),
            "n").localCheckpoint()
        _unpersist_rdd_ids(sc, own)  # superseded round's blocks
        own = _persistent_ids(sc) - pre
    _unpersist_rdd_ids(sc, own)
    return merges


def bpe_token_counts_learned(df: DataFrame, merges: list[tuple[str, str]],
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Tokenize every document under a LEARNED merge table (same
    mapInPandas shape as bpe_token_counts, ranks from ``merges``)."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    return df.select(id_col, text_col).mapInPandas(
        _tokenize_docs(id_col, text_col, ranks),
        f"{id_col} long, n_bpe_tokens long, bpe_md5 string")


def bpe_train_rounds_cte_sql(n_merges: int, words_src: str) -> str:
    """DuckDB CTE chain replaying bpe_train_merges: vocab init, one
    (pair-count, argmax, replace-all) CTE triple per round, closing with
    ``m(rank, l, r)`` = the learned merge table — the same contract as
    the VALUES table bpe_recursive_cte_sql consumes, so the learned
    table feeds the existing recursive tokenizer unchanged.  The
    NULL-l guard keeps a dried-up vocabulary (no adjacent pairs left
    anywhere — adversarial corpora of single-char words) a no-op round,
    mirroring the Spark side's early break.

    Every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    reference, and with each round referencing the previous vocabulary
    from both its pair-count and its rewrite the expansion is
    exponential in rounds — 8 unmaterialized rounds re-opened the
    source parquet tens of thousands of times ("Too many open files").
    Materialization evaluates each round exactly once, which is also
    what the Spark side's per-round localCheckpoint does."""
    parts = [f"""v0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(?s)(.)', '  \\1', 'g') || '  ' AS s,
         count(*) AS n
  FROM (SELECT word FROM {words_src} WHERE word <> '') vw
  GROUP BY word)"""]
    for i in range(n_merges):
        parts.append(f""",
b{i} AS MATERIALIZED (
  SELECT l, r FROM (
    SELECT syms[j] AS l, syms[j + 1] AS r, sum(n) AS cnt FROM (
      SELECT syms, n, unnest(generate_series(1, len(syms) - 1)) AS j
      FROM (SELECT string_split(trim(s), '  ') AS syms, n FROM v{i}) q1) q2
    GROUP BY 1, 2) p
  ORDER BY cnt DESC, l DESC, r DESC LIMIT 1),
v{i + 1} AS MATERIALIZED (
  SELECT CASE WHEN b.l IS NULL THEN v.s
         ELSE replace(v.s, ' ' || b.l || '  ' || b.r || ' ',
                      ' ' || b.l || b.r || ' ') END AS s, v.n
  FROM v{i} v LEFT JOIN b{i} b ON true)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, l, r FROM b{i}" for i in range(n_merges))
    parts.append(f",\nm AS (\n{union}\n)")
    return "".join(parts)
