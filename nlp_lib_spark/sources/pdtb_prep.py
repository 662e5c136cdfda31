"""PDTB corpus transform: explicit relations -> connective training rows.

Re-expresses the offline prep of ``corpus/pdtb/PDTB2ConnDB.java``
(processExplicitRelations, java:50-120 + process): for every Explicit
relation, each connective char span is located in the raw sentence whose
offsets contain it, and the sentence is emitted as a ``Word CONN`` B/I/O
training row — the ConnDB corpus the connective trainer consumes
(ml/PDTBConnectiveTrainer.java:58).  The reference walks section
directories and writes flat files; here both sides are DataFrames and the
span location is an equi-join + range predicate, so the transform runs
over the whole corpus in one pass.

Inputs:
* ``relations`` — ``sources/readers.read_pdtb_relations`` output;
* ``sentences`` — one row per raw sentence with char offsets:
  ``(file, sent_id, start_offset, text)`` where ``text`` is the
  space-tokenized raw sentence (RawSentence.java semantics: offsets index
  the raw document).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

CHAR_START = ("start_offset + pos + aggregate(slice(toks, 1, pos), 0, "
              "(a, x) -> a + length(x))")


def explicit_conn_training_rows(relations: DataFrame,
                                sentences: DataFrame) -> DataFrame:
    """-> (file, sent_id, conn_head, sense, tokens, iob) per (relation
    span, containing sentence).  A token overlapping the connective char
    span is tagged ``I-CONN``; the token containing the span start is
    ``B-CONN``; everything else ``O``."""
    spans = (relations
             .filter(F.col("rel_type") == "Explicit")
             .select("file", "conn_head", "sense",
                     F.explode("conn_spans").alias("cs"))
             .filter(F.col("cs.start") >= 0))
    s = (sentences
         .withColumn("toks", F.split("text", " "))
         .withColumn("end_offset",
                     F.col("start_offset") + F.length("text") - 1))
    j = spans.join(
        s,
        (spans.file == s.file)
        & (F.col("cs.start") >= s.start_offset)
        & (F.col("cs.end") <= F.col("end_offset"))).drop(s.file)
    return j.select(
        "file", "sent_id", "conn_head", "sense",
        F.col("toks").alias("tokens"),
        F.expr(f"""
transform(toks, (tok, pos) ->
  CASE
    WHEN ({CHAR_START}) <= cs.start
         AND cs.start <= ({CHAR_START}) + length(tok) - 1 THEN 'B-CONN'
    WHEN ({CHAR_START}) <= cs.end
         AND ({CHAR_START}) + length(tok) - 1 >= cs.start THEN 'I-CONN'
    ELSE 'O'
  END)
""").alias("iob"))


def trees_to_raw(trees: DataFrame, tree_col: str = "tree") -> DataFrame:
    """GSPTB2Raw (corpus/pdtb/GSPTB2Raw.java:52-74): gold Penn trees ->
    space-joined raw sentences, dropping trace leaves (preterminal
    ``-NONE-``).  The reference walks section dirs and writes one raw
    file per .mrg; here one Arrow pass adds a ``raw`` column."""
    from collections.abc import Iterator

    import pandas as pd

    from nlp_lib_spark.kernels.tree import leaves, parse_penn

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raws = []
            for t in pdf[tree_col]:
                root = parse_penn(t) if t else None
                if root is None:
                    raws.append("")
                    continue
                raws.append(" ".join(
                    lf.word for lf in leaves(root)
                    if lf.label != "-NONE-"))
            pdf = pdf.copy()
            pdf["raw"] = raws
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in trees.schema.fields) + ", raw string"
    return trees.mapInPandas(fn, schema=schema)


def pdtb_corpus_stats(relations: DataFrame) -> DataFrame:
    """Corpus statistics over the typed relation view — the aggregate
    queries the reference's analyzer mains print to stdout
    (``PDTBAnalyzer.getUniqueConnHead``, corpus/pdtb/PDTBAnalyzer.java:
    67-103; type/sense tallies in ``PDTBConnAnalyzer`` and
    ``BioDRBAnalyzer``) as one tidy (stat, key, n) DataFrame:

    * ``rel_type``  — relation-type distribution (Explicit/Implicit/...)
    * ``conn_head`` — explicit connective-head frequencies (the unique
      head list is this stat's key set)
    * ``sense``     — first-sense distribution over non-empty senses

    The deep per-tree diagnostics (``analyzeConnMod`` LCA-sibling tallies,
    Arg2 head walks) are interactive debugging mains over intermediate
    dump files and are not ported."""
    by_type = (relations.groupBy(F.col("rel_type").alias("key"))
               .agg(F.count(F.lit(1)).alias("n"))
               .select(F.lit("rel_type").alias("stat"), "key", "n"))
    conn = (relations.filter(F.col("rel_type") == "Explicit")
            .groupBy(F.col("conn_head").alias("key"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("conn_head").alias("stat"), "key", "n"))
    sense = (relations.filter(F.col("sense") != "")
             .groupBy(F.col("sense").alias("key"))
             .agg(F.count(F.lit(1)).alias("n"))
             .select(F.lit("sense").alias("stat"), "key", "n"))
    return by_type.unionByName(conn).unionByName(sense)


def biodrb_conn_iob_rows(iob: DataFrame) -> DataFrame:
    """BioDRB2PDTBStyle.createConnIOBFile + markBaseConnective
    (corpus/biodrb/BioDRB2PDTBStyle.java:59-110): shrink every annotated
    connective span to its longest sub-span that is a base connective of
    the lexicon (earliest span wins length ties, the reference's
    strictly-greater scan), re-tagging everything else O.  Input is the
    4-column IOB shape (doc_id, sent_id, tokens, conn) with B-/I- tags;
    output replaces ``conn`` with the shrunk B-conn/I-conn layer.

    Spans with no base-connective sub-span go fully O (the reference only
    warns on stderr)."""
    from collections.abc import Iterator

    import pandas as pd

    from nlp_lib_spark.kernels.discourse import ConnectiveLexicon

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lex = ConnectiveLexicon()
        for pdf in batches:
            out_tags = []
            for toks, tags in zip(pdf["tokens"], pdf["conn"]):
                toks = list(toks)
                tags = list(tags)
                low = [t.lower() for t in toks]
                i = 0
                n = len(toks)
                while i < n:
                    if tags[i].startswith("B-"):
                        j = i + 1
                        while j < n and tags[j].startswith("I-"):
                            j += 1
                        best = (-1, -1, -1)
                        for a in range(i, j):
                            for b in range(a, j):
                                if (b - a) > best[0] and \
                                        " ".join(low[a:b + 1]) in lex.conn2cat:
                                    best = (b - a, a, b)
                        for k in range(i, j):
                            tags[k] = "O"
                        if best[0] != -1:
                            tags[best[1]] = "B-conn"
                            for k in range(best[1] + 1, best[2] + 1):
                                tags[k] = "I-conn"
                        i = j
                    else:
                        i += 1
                out_tags.append(tags)
            pdf = pdf.copy()
            pdf["conn"] = out_tags
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in iob.schema.fields)
    return iob.mapInPandas(fn, schema=schema)
