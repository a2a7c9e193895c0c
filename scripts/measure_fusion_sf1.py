"""Hybrid fusion-gain measurement on held-out paraphrase queries at sf1
(VERDICT r13 #2 "Done" criterion).

Setup — the paraphrase-retrieval shape a RAG stack actually faces:

- CORPUS: the sf1 documents (50k; 10 near-duplicate copies per base
  doc) with their committed TEXT-DERIVED embeddings (gen_sf1.py runs
  the deterministic feature-hashing encoder, so semantic similarity
  correlates with lexical content).
- QUERIES: held-out copy-1 documents (natural text, not the synthetic
  eval stratum). The INTENT is the document's content; what the user
  *types* is short and vague — the 3 most-frequent tokens of the query
  doc (ties alphabetical). That is the lexical arm's input.
- SEMANTIC arm: the full query document's committed embedding — the
  "paraphrase as a whole" — brute cosine top-20 over the corpus.
- RELEVANCE: the query doc's family (its 9 sibling copies, minus any
  synthetic-text members), query doc itself excluded everywhere.

Lexical BM25 on 3 common terms cannot separate the family from the
thousands of docs sharing those terms; the full-document embedding can.
RRF fusion should therefore dominate the lexical arm — the gain that
was unmeasurable with random fixture embeddings. Prints one JSON line
with mean recall@10 / nDCG@10 per arm for the BASELINE.md row.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F  # noqa: E402

from loan_approval_prediction_data_engineering_ml_pipeline_spark.functions import text as X  # noqa: E402
from loan_approval_prediction_data_engineering_ml_pipeline_spark.functions import vectors as V  # noqa: E402
from loan_approval_prediction_data_engineering_ml_pipeline_spark.operators import retrieval as R  # noqa: E402
from loan_approval_prediction_data_engineering_ml_pipeline_spark.session import get_spark  # noqa: E402
from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources.loaders import load_table  # noqa: E402

SF1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".testdata", "sf1")
OFF = 5000  # sf1 doc-id copy offset (max sf0.1 doc_id + 1)
N_COPIES = 10
N_QUERIES = 20


def synthetic(col):
    """The gen_sf1 eval stratum whose text is per-doc synthetic (not a
    paraphrase of anything): doc_id % 97 == 0 minus the kept-natural
    slice (doc_id // 97) % 64 == 0."""
    return (col % 97 == 0) & (~((col / 97).cast("long") % 64 == 0))


def main() -> None:
    spark = get_spark(app_name="fusion_sf1")
    docs = load_table(spark, SF1, "documents")
    # the TEXT-DERIVED table (gen_sf1 writes it beside the ANN-shaped
    # jittered `embeddings`): semantic similarity correlates with
    # lexical content, which is what the fusion measurement needs
    emb = spark.read.parquet(f"{SF1}/embeddings_text.parquet")

    # ----- held-out paraphrase queries: copy-1 docs, natural text -----
    qdocs = (
        docs.where(
            (F.col("doc_id") >= OFF) & (F.col("doc_id") < OFF + 2 * N_QUERIES)
            & (F.col("doc_id") % 2 == 0) & (~synthetic(F.col("doc_id")))
        )
        .select("doc_id", "text")
        .limit(N_QUERIES)
        .cache()
    )
    qids = [r["doc_id"] for r in qdocs.select("doc_id").collect()]
    qmap = {d: f"q{d}" for d in qids}

    # lexical input: each query doc's 3 most-frequent tokens (vague,
    # common terms — what a short typed query looks like)
    ne = F.filter(X.tokens("text"), lambda t: t != "")
    toks = qdocs.select("doc_id", F.explode(ne).alias("term"))
    top3 = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
            ),
        )
        .where(F.col("rk") <= 3)
        .select(
            F.concat(F.lit("q"), F.col("doc_id").cast("string")).alias("query_id"),
            "term",
            F.col("doc_id").alias("own_doc"),
        )
        .cache()
    )

    # ----- relevance: natural-text family siblings -----
    fam = []
    for d in qids:
        base = d % OFF
        fam.extend((qmap[d], base + c * OFF) for c in range(N_COPIES))
    rel = (
        spark.createDataFrame(fam, "query_id string, doc_id long")
        .where(~synthetic(F.col("doc_id")))
        .where(F.col("doc_id") != F.substring("query_id", 2, 10).cast("long"))
    )

    # ----- lexical arm: BM25 top-20, query doc excluded -----
    lex = (
        R.bm25_topk(docs, top3.select("query_id", "term"), k=21)
        .join(top3.select("query_id", "own_doc").distinct(), "query_id")
        .where(F.col("doc_id") != F.col("own_doc"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("rank")
            ),
        )
        .where(F.col("rank") <= 20)
        .select("query_id", "doc_id", "rank")
    )

    # ----- semantic arm: committed text-derived embedding, cosine top-20 -----
    qv = emb.where(F.col("vec_id").isin(qids)).select(
        F.concat(F.lit("q"), F.col("vec_id").cast("string")).alias("query_id"),
        F.col("vec_id").alias("own_doc"),
        V.as_double("embedding").alias("qv"),
    )
    corpus = emb.select(F.col("vec_id").alias("doc_id"), V.as_double("embedding").alias("v"))
    cos = F.round(V.cosine("v", "qv"), 6)
    sem = (
        corpus.join(F.broadcast(qv))
        .where(F.col("doc_id") != F.col("own_doc"))
        .select("query_id", "doc_id", cos.alias("cosine"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cosine"), F.asc("doc_id")
                )
            ),
        )
        .where(F.col("rank") <= 20)
        .select("query_id", "doc_id", "rank")
    )

    fused = R.rrf_fuse([lex, sem], k=10).select("query_id", "doc_id", "rank")

    def summarize(tag, ranking):
        m = R.retrieval_quality_metrics(ranking, rel, k=10)
        row = m.agg(
            F.round(F.avg("recall_at_k"), 4).alias("recall"),
            F.round(F.avg("ndcg_at_k"), 4).alias("ndcg"),
            F.round(F.avg("mrr"), 4).alias("mrr"),
        ).first()
        return {
            f"{tag}_recall_at_10": float(row["recall"]),
            f"{tag}_ndcg_at_10": float(row["ndcg"]),
            f"{tag}_mrr": float(row["mrr"]),
        }

    out = {"n_queries": len(qids), "corpus_docs": docs.count()}
    out.update(summarize("lexical", lex))
    out.update(summarize("semantic", sem))
    out.update(summarize("hybrid", fused))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
