"""The 'only the delta pays' loop, end-to-end: JSONL shards land ->
IncrementalDeduper admits them against the accumulated corpus (banded
join probes stored state, never re-shingles it) -> the store changefeed
delivers EXACTLY each round's survivors to a downstream consumer -> the
consumer keeps a signed word-frequency table and refreshes a batched
BPE vocabulary from it.  A compliance takedown (delete_equals) then
propagates through changes(include_deletes=True): downstream subtracts
the deleted documents' counts without ever rescanning the corpus, and
a re-score upsert replays old-version-out / new-version-in by the same
delta algebra.

Every stage's per-round cost is delta-sized; the corpus-sized state is
only ever probed (band join) or appended (changefeed).

Run: python examples/demo_delta_pipeline.py
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from rust_evm_indexer_spark.operators.bpe import train_bpe, word_freqs
from rust_evm_indexer_spark.operators.incremental_dedup import IncrementalDeduper
from rust_evm_indexer_spark.session import get_spark
from rust_evm_indexer_spark.sources.text_corpus import read_jsonl_documents
from rust_evm_indexer_spark.store import TableStore

WORDS = ["alpha", "beta", "gamma", "delta", "tokens", "corpus", "spark",
         "shard", "vocab", "merge"]


def _shard(path: Path, rnd: int, n: int) -> None:
    lines = []
    for i in range(n):
        gid = rnd * 1000 + i
        src = i if (rnd > 0 and i % 5 == 0) else gid  # 20% cross-round dups
        body = " ".join(
            WORDS[(src * 13 + j * 7) % len(WORDS)] + str((src * 31 + j) % 97)
            for j in range(12)
        )
        lines.append(json.dumps(
            {"doc_id": gid, "text": f"doc {src} says {body}", "lang": "en"}
        ))
    if rnd == 1:
        lines.append("{not json")  # quarantine path stays exercised
    path.write_text("\n".join(lines) + "\n")


def main() -> None:
    spark = get_spark("demo_delta_pipeline", cpus=8, shuffle_partitions=8)
    root = Path(tempfile.mkdtemp(prefix="delta_pipe_"))
    store = TableStore(spark, root / "store", bloom_columns={}, dict_columns={})
    dd = IncrementalDeduper(store, threshold=0.5, n_perm=16, bands=8)

    # downstream state: SIGNED per-round word-frequency deltas in the
    # same store — the vocab is one vocab-sized groupBy over them
    consumed_version = 0
    for rnd in range(3):
        shard = root / f"shard{rnd}.jsonl"
        _shard(shard, rnd, 40)
        docs, corrupt = read_jsonl_documents(spark, shard, source="crawl")
        rep = dd.add_batch(docs.select("doc_id", "text", "lang", "source", "n_chars"))
        print(f"round {rnd}: batch={rep['batch']} within_kept={rep['within_kept']} "
              f"cross_dropped={rep['cross_dropped']} added={rep['added']} "
              f"corrupt={corrupt.count()}")

        # the changefeed hands downstream EXACTLY this round's survivors
        now = store.current_manifest().version
        delta = store.changes("corpus", since_version=consumed_version,
                              to_version=now)
        consumed_version = now
        n_delta = delta.count()
        assert n_delta == rep["added"], (n_delta, rep["added"])
        wf = word_freqs(delta).withColumn("freq", F.col("freq"))
        store.commit({"word_freq_deltas": wf})
        print(f"  changefeed delivered {n_delta} docs -> "
              f"{wf.count()} word-delta rows")

        # the observability face: one dashboard-sized health report per
        # snapshot version (corpus totals + Zipf slope + length buckets)
        from rust_evm_indexer_spark.operators.corpus import corpus_report

        report = {
            (r["section"], r["k"], r["metric"]): r["value"]
            for r in corpus_report(store.read("corpus")).collect()
        }
        slope = {k[1]: v for k, v in report.items()
                 if k[0] == "zipf" and k[2] == "slope"}
        print(f"  health v{now}: docs={report[('corpus', 'all', 'n_docs')]:.0f} "
              f"tokens={report[('corpus', 'all', 'total_tokens')]:.0f} "
              f"zipf={slope}")

    # the ANN index rides the same delta: round 0's survivors seed an
    # IVFPQ index (frozen quantizer + codebooks), later rounds APPEND
    # their delta's codes — O(delta) maintenance, no re-encode
    from rust_evm_indexer_spark.operators import pq as PQ
    from rust_evm_indexer_spark.operators.similarity import IvfIndex

    def _fake_embeddings(docs_df):
        """Deterministic 16-dim unit-ish vectors from doc_id (the demo
        stand-in for a real embedding model)."""
        return docs_df.select(
            F.col("doc_id").alias("vec_id"),
            F.array(
                *[
                    (
                        F.pmod(F.xxhash64("doc_id", F.lit(i)), F.lit(1000))
                        / 1000.0
                    ).cast("float")
                    for i in range(16)
                ]
            ).alias("embedding"),
        )

    seed_emb = _fake_embeddings(
        store.changes("corpus", since_version=0,
                      to_version=store.manifest_at(1).version)
    )
    idx = IvfIndex.build(seed_emb, root / "ivf", k=2, iters=3)
    # measured-best encoding (SCALE.md r8): OPQ rotation over residuals
    # — rotation and codebooks are frozen with the quantizer; every
    # later append encodes under the same (R, codebooks)
    rot = PQ.opq_train_rotation(seed_emb, m=4)
    cb = PQ.pq_train(
        PQ.residual_frame(idx, idx.vectors()),
        m=4, k=8, iters=4, rotation=rot,
    )
    PQ.ivfpq_write_codes(idx, cb, root / "codes", by_residual=True,
                         rotation=rot)
    later = store.changes("corpus", since_version=1)
    n_appended = 0
    if later.limit(1).count():
        # semantic gate first: the delta admits against the FROZEN index
        # (partition-pruned stored scan, broadcast delta) and only the
        # admitted vectors pay the PQ encode
        from rust_evm_indexer_spark.operators.similarity import semantic_admit

        admitted, sstats = semantic_admit(
            idx, _fake_embeddings(later), threshold=0.999
        )
        print(f"semantic gate: {sstats['batch']} delta vectors -> "
              f"{sstats['admitted']} admitted "
              f"({sstats['cross_dropped']} cross, "
              f"{sstats['within_dropped']} within dropped)")
        n_seeded = spark.read.parquet(str(root / "codes")).count()
        n_appended = PQ.ivfpq_append(
            idx, cb, root / "codes",
            admitted.select("vec_id", "embedding"),
            by_residual=True, rotation=rot,
        )
        # the contract this demo exists to prove: index growth ==
        # exactly this round's semantic survivors, nothing else pays
        assert n_appended == sstats["admitted"], (n_appended, sstats)
        grown = spark.read.parquet(str(root / "codes")).count() - n_seeded
        assert grown == sstats["admitted"], (grown, sstats)
    n_codes = spark.read.parquet(str(root / "codes")).count()
    probe_vec = [float(x) for x in seed_emb.first()["embedding"]]
    hit = PQ.ivfpq_search(
        idx, root / "codes", cb, probe_vec, topk=1, n_probe=2,
        by_residual=True, rotation=rot,
    ).first()
    print(f"IVFPQ index: seeded round-0, appended {n_appended} delta "
          f"codes ({n_codes} total), self-probe top hit vec {hit['vec_id']}")

    def vocab_freqs():
        return (store.read("word_freq_deltas")
                .groupBy("word").agg(F.sum("freq").alias("freq"))
                .where(F.col("freq") > 0))

    merges = train_bpe(None, n_merges=24, freqs=vocab_freqs(), batch=8)
    print(f"refreshed BPE vocab: {len(merges)} merges, "
          f"{vocab_freqs().count()} live words")

    # compliance takedown: delete one document everywhere, propagate the
    # exact deleted rows downstream, subtract its counts
    victim = store.read("corpus").select(F.min("doc_id")).first()[0]
    pre = store.current_manifest().version
    store.delete_equals("corpus", "doc_id", victim)
    feed = store.changes("corpus", since_version=pre,
                         include_deletes=True)
    gone = feed.where(F.col("_change_type") == "delete").drop(
        "_change_type", "_commit_version")
    neg = word_freqs(gone).select("word", (-F.col("freq")).alias("freq"))
    store.commit({"word_freq_deltas": neg})
    merges2 = train_bpe(None, n_merges=24, freqs=vocab_freqs(), batch=8)
    print(f"takedown doc {victim}: {gone.count()} row(s) retracted "
          f"downstream, vocab refreshed ({len(merges2)} merges) — "
          f"no corpus rescan anywhere")

    # re-score: upsert replaces one document's text with a new version
    # in ONE atomic swap; the changefeed replays old-version-out /
    # new-version-in, so the derived word counts converge by the same
    # delta algebra (subtract deletes, add inserts) — CRUD complete,
    # still no corpus rescan
    target = store.read("corpus").select(F.max("doc_id")).first()[0]
    pre = store.current_manifest().version
    newdoc = (store.read("corpus").where(F.col("doc_id") == target)
              .withColumn("text", F.concat(F.col("text"),
                                           F.lit(" revised revision"))))
    store.upsert("corpus", newdoc, "doc_id")
    feed = store.changes("corpus", since_version=pre, include_deletes=True)
    old = feed.where(F.col("_change_type") == "delete").drop(
        "_change_type", "_commit_version")
    new = feed.where(F.col("_change_type") == "insert").drop(
        "_change_type", "_commit_version")
    delta = (word_freqs(old).select("word", (-F.col("freq")).alias("freq"))
             .unionByName(word_freqs(new)))
    store.commit({"word_freq_deltas": delta})
    revised = vocab_freqs().where(F.col("word") == "revision").first()
    print(f"re-score doc {target}: upsert replayed "
          f"{old.count()} old / {new.count()} new version(s); "
          f"downstream counts picked up 'revision' x{revised['freq']}")


if __name__ == "__main__":
    main()
