"""End-to-end LLM-training-data pipeline demo on the driver tables:
JSONL shard ingestion (corrupt-line quarantine) → quality filter →
Gopher gate → benchmark decontamination → near-dup dedup (MinHash-LSH)
→ cluster keep-one → perplexity tails → stratified sample → sequence
packing → embedding similarity search → incremental downstream
consumption via the store changefeed.

Run: python examples/demo_llm_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from rust_evm_indexer_spark.operators import corpus, dedup, similarity, textops
from rust_evm_indexer_spark.session import get_spark
from rust_evm_indexer_spark.sources.batch import load_driver_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("demo_llm_pipeline", cpus=8, shuffle_partitions=8)

    # 0. shard-ingest front door: raw corpora arrive as JSONL, not
    # parquet — corrupt lines are quarantined and counted, never dropped
    import json as _json
    import tempfile

    from rust_evm_indexer_spark.sources.text_corpus import read_jsonl_documents

    shard_dir = Path(tempfile.mkdtemp(prefix="demo_shards_"))
    (shard_dir / "shard0.jsonl").write_text(
        "\n".join(
            [_json.dumps({"doc_id": 10_000 + i, "text": f"extra doc {i}",
                          "lang": "en"}) for i in range(3)]
            + ["{broken line"]
        )
        + "\n"
    )
    jdocs, quarantine = read_jsonl_documents(spark, shard_dir, source="crawl")
    print(f"jsonl ingest: {jdocs.count()} docs, "
          f"{quarantine.count()} corrupt line(s) quarantined")

    docs = load_driver_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. cheap quality pre-filter
    quality = textops.quality_score(docs)
    kept = docs.join(quality.where(F.col("keep")).select("doc_id"), "doc_id")
    n1 = kept.count()
    print(f"quality filter: {n0} -> {n1} docs")

    # 2. Gopher-style structural gate
    gated = kept.join(
        corpus.gopher_quality(kept).where(F.col("keep")).select("doc_id"),
        "doc_id",
    )
    n1g = gated.count()
    print(f"gopher gate: {n1} -> {n1g} docs")

    # 3. benchmark decontamination (synthetic suite: every 20th doc)
    bench = gated.where(F.col("doc_id") % 20 == 0).select("doc_id")
    clean = corpus.decontaminate(gated, bench, k=5, min_hits=3)
    n1d = clean.count()
    print(f"decontamination: {n1g} -> {n1d} docs "
          f"(benchmark {bench.count()} docs removed + overlap dropped)")

    # 4. near-dup dedup (LSH candidates, exact-verified) + cluster keep-one
    pairs = dedup.minhash_lsh_pairs(clean, threshold=0.5)
    survivors = dedup.dedup_survivors(clean, pairs)
    n2 = survivors.count()
    print(f"near-dup dedup: {n1d} -> {n2} docs ({pairs.count()} dup pairs)")
    clusters = corpus.dedup_clusters(clean, pairs)
    n_comp = clusters.select("component_id").distinct().count()
    print(f"cluster keep-one would retain {n_comp} components")

    # 5. perplexity tails (corpus-fit unigram NLL)
    nll = textops.unigram_nll(survivors)
    tails = nll.agg(
        F.expr("percentile(avg_nll, 0.01)").alias("p01"),
        F.expr("percentile(avg_nll, 0.99)").alias("p99"),
    ).first()
    print(f"unigram NLL tails: p01={tails['p01']:.2f} p99={tails['p99']:.2f}")

    # 6. reproducible stratified sample + sequence packing
    sampled = corpus.stratified_sample(
        survivors, rates={"en": 0.5}, default_rate=0.25
    )
    packed = corpus.pack_sequences(sampled, window_tokens=256)
    n3 = sampled.count()
    shards = packed.count()
    print(f"sample+pack: {n2} -> {n3} docs -> {shards} 256-token shards")

    # 6b. training-export tail: bigram-LM gate -> RAG chunks ->
    # deterministic shuffled shards written partitioned by shard_id.
    # localCheckpoint truncates the dedup-pipeline lineage first:
    # `sampled` feeds the LM's scored and model sides, then the join,
    # chunking and shard map below, and without truncation each
    # reference re-derives the whole upstream gate/dedup DAG
    # (measured: thousands of stages at sf0.01).
    sampled = sampled.localCheckpoint()
    sb = textops.stupid_backoff_ngram_nll(
        sampled, model_df=sampled.where(F.col("lang") == "en"), n=2
    )
    lm_kept = sampled.join(
        sb.where(F.col("avg_nll") <= 12.0).select("doc_id"), "doc_id"
    )
    chunks = textops.chunk_documents(lm_kept, size=32, stride=24)
    shard_map = corpus.shuffle_shards(lm_kept, n_shards=4, seed=7)
    export = chunks.join(shard_map.select("doc_id", "shard_id", "pos"), "doc_id")
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="training_export_")
    export.write.mode("overwrite").partitionBy("shard_id").parquet(out_dir)
    per_shard = {
        r["shard_id"]: r["n"]
        for r in export.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    }
    print(f"training export: {lm_kept.count()} docs -> {chunks.count()} chunks "
          f"-> 4 shards {sorted(per_shard.values())} at {out_dir}")

    # 7. corpus stats on the cleaned set
    stats = textops.text_stats(survivors).agg(
        F.round(F.avg("n_words"), 1).alias("avg_words"),
        F.round(F.avg("alpha_ratio"), 3).alias("avg_alpha"),
    ).first()
    print(f"cleaned corpus: avg_words={stats['avg_words']} "
          f"avg_alpha={stats['avg_alpha']}")

    # 8. similarity search over embeddings
    emb = load_driver_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = similarity.brute_force_topk(emb, q, k=5, exclude_ids=(0,)).collect()
    print("top-5 neighbors of vec 0:", [(r["vec_id"], r["sim"]) for r in top])
    approx = similarity.ivf_topk(emb, q, k=5, n_probe=2, exclude_ids=(0,)).collect()
    overlap = len({r["vec_id"] for r in top} & {r["vec_id"] for r in approx})
    print(f"IVF(probe=2) recall@5 vs exact: {overlap}/5")

    # product quantization: 32x-compressed codes, JVM-only ADC scoring
    from rust_evm_indexer_spark.operators import pq as PQ

    cb = PQ.pq_train(emb, m=8, k=128, iters=10)
    codes = PQ.pq_encode(emb, cb)
    pq_top = PQ.pq_search(codes, cb, q, topk=5, exclude_ids=(0,)).collect()
    pq_overlap = len({r["vec_id"] for r in top} & {r["vec_id"] for r in pq_top})
    print(f"PQ(8x128, 32x compressed) recall@5 vs exact: {pq_overlap}/5")

    # 9. incremental downstream consumption: the cleaned corpus lands in
    # a versioned store; a changefeed consumer processes ONLY each
    # round's new documents (maintenance never re-delivers)
    from rust_evm_indexer_spark.store import TableStore
    from rust_evm_indexer_spark.streaming import ChangefeedStream

    store_root = Path(tempfile.mkdtemp(prefix="demo_store_"))
    store = TableStore(spark, store_root / "s", bloom_columns={}, dict_columns={})
    half = survivors.where(F.col("doc_id") % 2 == 0)
    store.commit({"corpus": half})

    delivered: list[int] = []
    consumer = ChangefeedStream(
        spark, store, "corpus",
        lambda df, frm, to: delivered.append(df.count()),
        checkpoint_path=store_root / "consumer.json",
    )
    consumer.poll_once()
    store.commit({"corpus": survivors.where(F.col("doc_id") % 2 == 1)})
    store.compact("corpus", max_fragments=1)  # maintenance: not re-delivered
    consumer.poll_once()
    print(f"changefeed consumption: windows delivered {delivered} rows "
          f"(total {sum(delivered)} == cleaned corpus {n2})")
    assert sum(delivered) == n2

    print("OK")
    spark.stop()


if __name__ == "__main__":
    main()
