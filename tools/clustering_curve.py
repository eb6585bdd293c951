"""100x scaling curve for the r11 incremental-clustering loop — the
daily maintenance cost vs the full re-clustering it replaces.

Per SF: snapshot the corpus state once (signature index = the
persisted ``(id, ids, sig)`` shingle-id and MinHash signature table,
``operators/dedup.py:signature_table``, over src0-17 docs; cluster
assignment = batch CC over the corpus's banded MinHash pairs), then
time the two ways a pipeline can absorb the src18-19 arrival batch:

- ``incr_sec``  the maintenance loop: tokenize ONLY the arrivals,
  probe the persisted index for arrival-touching pairs
  (asymmetric band join over the stored signatures), fold them into
  the persisted assignment with ``apply_components_update``
  (rep-graph contraction — corpus graph never re-shuffled), write
  the next assignment;
- ``full_sec``  the alternative: re-tokenize ALL documents, rebuild
  the full banded pair graph, run batch CC from scratch, write.

Both arms end in the same on-disk artifact; the tool asserts the two
assignments are IDENTICAL (same (node, cluster_id) set — the
contraction lemma checked on real data at every SF, not just the unit
graphs). ``snapshot_sec`` (one-time index+assignment build) is
reported for context but is not part of either daily arm. Run on a
quiet machine; one JSON line per SF on stdout.

At the testdata SFs both arms are dominated by fixpoint latency (a
few Spark jobs each), so the wall split is flat; the data-proportional
separation is made measurable with ``--amplify R``: the corpus is
replicated R times with a word-level deterministic perturbation
(word → word_r per replica r>0) — each replica keeps the corpus's
internal near-dup topology but replicas are mutually non-dup, so the
full-recluster arm's tokenize/sign/CC work grows ~R× while the
incremental arm still only tokenizes the same arrival batch and folds
a batch-sized contracted graph. The amplified corpus is staged to
parquet first so both arms read identical bytes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from oamap_spark import cache
from oamap_spark.operators import clustering as C
from oamap_spark.operators import dedup as D
from oamap_spark.session import get_spark
from oamap_spark.sources.staging import steady_split

K, RPB, THR, N = 16, 2, 0.9, 3  # the dedup_clusters_* family's params


def _amplified(corpus, r: int):
    """R copies of the corpus: replica 0 verbatim; replica r>0 keeps
    doc structure but rewrites every word to word_r, so its shingle
    sets are disjoint from every other replica's (no cross-replica
    dups) while its internal near-dup topology mirrors the original
    (word-wise rewriting commutes with shingling). Ids offset by
    r * 10^9 — replica 0 keeps original ids, arrivals never collide."""
    reps = F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("rep")
    amp = corpus.select("doc_id", "text", reps)
    perturbed = F.array_join(
        F.transform(
            F.split("text", " "),
            lambda w: F.concat(w, F.lit("_"), F.col("rep").cast("string")),
        ),
        " ",
    )
    return amp.select(
        (F.col("doc_id") + F.col("rep").cast("long") * 1_000_000_000).alias(
            "doc_id"
        ),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(perturbed)
        .alias("text"),
    )


def main() -> None:
    amplify = 0
    if "--amplify" in sys.argv:
        amplify = int(sys.argv[sys.argv.index("--amplify") + 1])
    sfs = ("sf0.001", "sf0.01", "sf0.1")
    if "--sf" in sys.argv:
        sfs = (sys.argv[sys.argv.index("--sf") + 1],)
    spark = get_spark()
    for sf in sfs:
        docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
        corpus, arrivals = steady_split(docs)
        arrivals = arrivals.select("doc_id", "text")
        tmp = tempfile.mkdtemp(prefix="oamap_clu_curve_")
        if amplify > 1:
            corpus_path = os.path.join(tmp, "corpus_amp")
            _amplified(corpus, amplify).write.parquet(corpus_path)
            corpus = spark.read.parquet(corpus_path)
        idx = os.path.join(tmp, "index")
        asg0 = os.path.join(tmp, "asg0")

        # one-time corpus snapshot: persisted signature index + CC
        t0 = time.perf_counter()
        D.signature_table(
            D.shingle_ids_table(corpus, "doc_id", "text", N)
        ).write.parquet(idx)
        corpus_pairs = D.minhash_lsh_pairs(
            corpus, "doc_id", "text", k=K, rows_per_band=RPB, threshold=THR
        )
        C.connected_components_min_id(corpus_pairs).write.parquet(asg0)
        snapshot_sec = time.perf_counter() - t0
        cache.sweep()

        # daily arm A — incremental maintenance
        t0 = time.perf_counter()
        ids_df = D.steady_ids_with_arrivals(
            arrivals, spark.read.parquet(idx), n=N
        )
        new_pairs = cache.track(
            D.minhash_lsh_pairs_incremental(
                None, "doc_id", "text", "is_new",
                k=K, rows_per_band=RPB, threshold=THR, ids_df=ids_df,
            ).select("id_a", "id_b")
        )
        C.apply_components_update(
            spark.read.parquet(asg0), new_pairs
        ).write.parquet(os.path.join(tmp, "asg_incr"))
        incr_sec = time.perf_counter() - t0
        cache.sweep()

        # daily arm B — full re-clustering from raw text (corpus ∪
        # arrivals — identical to `docs` when not amplified)
        t0 = time.perf_counter()
        all_docs = corpus.select("doc_id", "text").unionByName(arrivals)
        all_pairs = D.minhash_lsh_pairs(
            all_docs, "doc_id", "text", k=K, rows_per_band=RPB, threshold=THR
        )
        C.connected_components_min_id(all_pairs).write.parquet(
            os.path.join(tmp, "asg_full")
        )
        full_sec = time.perf_counter() - t0
        cache.sweep()

        a = {
            (r["node"], r["cluster_id"])
            for r in spark.read.parquet(os.path.join(tmp, "asg_incr")).collect()
        }
        b = {
            (r["node"], r["cluster_id"])
            for r in spark.read.parquet(os.path.join(tmp, "asg_full")).collect()
        }
        print(json.dumps({
            "sf": sf,
            "amplified": amplify,
            "corpus_docs": corpus.count(),
            "arrival_docs": arrivals.count(),
            "assignment_nodes": len(a),
            "incr_equals_full": a == b,
            "snapshot_sec": round(snapshot_sec, 3),
            "incr_sec": round(incr_sec, 3),
            "full_sec": round(full_sec, 3),
        }))
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
