"""Training-data curation lifecycle — the LLM-pipeline operators chained
the way a corpus build actually runs, in one script:

  documents → exact dedup → near-dup pairs (PPJoin) → connected components
  → keep one per cluster → block-level (paragraph) dedup → quality/language
  filters → DSIR importance weighting toward the English slice → benchmark
  decontamination → train/val split → sequence packing → TF-IDF top terms
  → token budget accounting (whitespace + BPE-ish subword estimate);
  embeddings → semantic dedup (SemDeDup shape) → ANN shortlist; curated
  output lands as compacted parquet AND as a JSONL corpus.

Every stage is the declared operator from plans/queries.py — this is the
composition story, not new code paths.

Usage: python examples/dataops_pipeline.py [out_dir] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from aws_dataset_ingestion_metrics_collection_framework_spark import get_spark
from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import load_table
from aws_dataset_ingestion_metrics_collection_framework_spark.operators import dedup as D
from aws_dataset_ingestion_metrics_collection_framework_spark.operators import graph as G
from aws_dataset_ingestion_metrics_collection_framework_spark.operators import similarity as SIM
from aws_dataset_ingestion_metrics_collection_framework_spark.operators import textops as TX


def main(out_dir: str, sf_dir: str = "/root/testdata/sf0.001") -> dict:
    spark = get_spark(app_name="dataops-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")
    summary: dict = {"input_docs": docs.count()}

    # 1. exact dedup (collision-safe two-phase, slim shuffle) — winners are
    # (doc_id, dup_count); semi-join recovers the surviving rows
    winners = D.exact_dedup(docs, ["text"], "doc_id").select("doc_id")
    exact = docs.join(winners, "doc_id", "left_semi")
    summary["after_exact_dedup"] = exact.count()

    # 2. near-dup closure: PPJoin pairs → components → one survivor each
    pairs = D.ngram_jaccard_pairs_prefix(exact, "doc_id", "text", k=3, threshold=0.8)
    comps = G.connected_components(
        exact.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
    )
    unique_docs = G.dedup_keep_per_cluster(exact, comps, "doc_id")
    summary["after_near_dedup"] = unique_docs.count()

    # 3. quality + language gates (Gopher/C4-style heuristics)
    stats = TX.quality_score(TX.token_stats(unique_docs, "doc_id", "text"))
    lang = TX.language_id(unique_docs, "doc_id", "text")
    curated = (
        unique_docs.join(stats.select("doc_id", "quality"), "doc_id")
        .join(lang.select("doc_id", "predicted_lang"), "doc_id")
        .filter((F.col("quality") >= 0.5) & (F.col("predicted_lang") != "und"))
    )
    summary["after_quality_gate"] = curated.count()

    # 3b. block-level dedup strips cross-document boilerplate the doc-level
    # passes cannot see (r3)
    curated = TX.dedup_paragraphs(curated.select("doc_id", "text"), "doc_id", "text").join(
        curated.drop("text"), "doc_id"
    ).filter(F.col("text") != "")
    summary["after_block_dedup"] = curated.count()

    # 3b2. DSIR importance weighting toward the English slice (r4): score
    # every surviving doc; the summary records the share that looks more
    # target-like than the corpus average (a real pipeline resamples on
    # exp(weight) — here the weights just ride along as a column)
    from aws_dataset_ingestion_metrics_collection_framework_spark.operators import weighting as WGT

    weights = WGT.importance_weights(
        curated, "doc_id", "text", F.col("lang") == "en", buckets=128
    )
    # pinned: the affinity count and the decontamination pass both read it
    curated = curated.join(weights.select("doc_id", "weight"), "doc_id").localCheckpoint()
    summary["above_avg_target_affinity"] = (
        curated.crossJoin(
            F.broadcast(weights.agg(F.avg("weight").alias("_avg")))
        ).filter(F.col("weight") > F.col("_avg")).count()
    )

    # 3c. decontaminate against a held-out "benchmark" slice, then assign
    # deterministic train/val splits and pack into token-budget sequences (r3)
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    curated = curated.filter(F.col("doc_id") % 100 != 0)  # bench never trains
    flags = D.decontaminate(curated, bench, id_col="doc_id", text_col="text", n=4)
    # pinned: every stage below (split, packs, token counts, the three
    # writes) reads the final corpus — without this each one re-runs the
    # whole curation chain above
    curated = curated.join(
        flags.filter(~F.col("contaminated")), "doc_id", "left_semi"
    ).localCheckpoint()
    summary["after_decontamination"] = curated.count()
    split = TX.train_val_split(curated, "doc_id", val_fraction=0.02)
    summary["val_docs"] = split.filter(F.col("split") == "val").count()
    packs = TX.pack_sequences(curated, "doc_id", "text", budget=2048, shards=8)
    summary["n_packs"] = packs.select("shard", "pack_id").distinct().count()

    # 4. corpus descriptors: token budget (whitespace AND the BPE-ish
    # subword estimate, r4) + top TF-IDF terms
    budget = curated.join(
        TX.token_stats(curated, "doc_id", "text").select("doc_id", "n_tokens"), "doc_id"
    ).agg(F.sum("n_tokens").alias("total_tokens"))
    summary["total_tokens"] = budget.collect()[0]["total_tokens"]
    summary["est_subwords"] = (
        TX.token_estimate(curated, "doc_id", "text")
        .agg(F.sum("est_subwords").alias("s")).collect()[0]["s"]
    )
    top_terms = TX.tf_idf_top_terms(curated, "doc_id", "text", k=3)
    top_terms.write.mode("overwrite").parquet(os.path.join(out_dir, "top_terms"))

    # 5. embedding-space curation: semantic dedup (SemDeDup shape, r4) then
    # an LSH ANN neighbor shortlist over the deduped vectors
    emb = load_table(spark, sf_dir, "embeddings")
    sem = D.semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.98, n_planes=4, n_tables=8
    )
    emb = emb.join(sem.filter(F.col("keep")).select("vec_id"), "vec_id", "left_semi")
    summary["vectors_after_semantic_dedup"] = emb.count()
    shortlist = SIM.lsh_ann_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=3, n_planes=4, n_tables=4
    )
    shortlist.write.mode("overwrite").parquet(os.path.join(out_dir, "ann_shortlist"))
    summary["ann_rows"] = spark.read.parquet(os.path.join(out_dir, "ann_shortlist")).count()

    # 6. land the curated corpus: compacted parquet (maintenance pass over
    # the raw write) + JSONL interchange (r4)
    from aws_dataset_ingestion_metrics_collection_framework_spark.sources.maintenance import compact_files
    from aws_dataset_ingestion_metrics_collection_framework_spark.sources.text_corpus import write_jsonl_corpus

    raw_out = os.path.join(out_dir, "curated_docs_raw")
    curated.select("doc_id", "lang", "source", "n_chars").repartition(16).write.mode(
        "overwrite"
    ).parquet(raw_out)
    plan = compact_files(spark, raw_out, os.path.join(out_dir, "curated_docs"))
    summary["files_before_compaction"] = plan["n_files"]
    write_jsonl_corpus(
        curated.select("doc_id", "text", "lang", "source", "n_chars"),
        os.path.join(out_dir, "curated_jsonl"),
    )
    return summary


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/dataops_out"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    print(json.dumps(main(out, sf)))
