"""Training-set decontamination — benchmark n-gram overlap (round 5).

Before training, any document sharing word n-grams with an evaluation
benchmark must be flagged (the standard decontamination pass in LLM
data pipelines).  Shape at scale:

- the EVAL side is small by nature (benchmarks are thousands of
  documents, not billions) — its distinct n-gram set broadcasts;
- the corpus side explodes its per-document DISTINCT n-grams (the
  shared `dedup.word_ngrams` Column machinery, JVM-side) and hits the
  broadcast set with a hash join — no corpus-sized shuffle at all
  before the per-document count aggregate;
- output is (id, n_overlap) for flagged documents only, so the result
  is bounded by contamination incidence, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import word_ngrams


def ngram_overlap(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_overlap): how many DISTINCT word n-grams of each corpus
    document also occur anywhere in the eval corpus.  Documents with
    zero overlap are absent (flag-only output)."""
    ev = F.broadcast(
        eval_docs.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("g")
        ).distinct()
    )
    grams = docs.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("g"),
    )
    return (
        grams.join(ev, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
