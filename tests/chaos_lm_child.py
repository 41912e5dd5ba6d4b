"""Child process for the mid-epoch SIGKILL chaos tests (NOT a pytest
module — driven by tests/test_chaos_kill.py via subprocess).

argv: <root> <phase> [<sink> <kill_epoch> <when>]

Phases:
  prep  <sink>            build the 5-file source corpus + the batch-twin
                          expected result for the sink
  run <sink> <ke> <when>  start the streaming sink over the corpus with
                          maxFilesPerTrigger=1 and SIGKILL OURSELVES at
                          epoch ``ke``, either ``before`` the epoch
                          ledger append (partials/pairs written, ledger
                          behind — the torn-write window) or ``after``
                          it (ledger ahead of the stream's commit log —
                          the at-least-once replay window). ke=-1 = no
                          kill: run to completion and write verdict.json
                          comparing the live state to the batch twin.

Sinks:
  lm       StreamingBigramLM — additive bigram counts; a double-applied
           epoch shows as a count diff vs one-shot training.
  neardup  StreamingNearDup — TWO stores (LSH index + pairs sink); a
           double-applied epoch shows as duplicated pairs vs the
           one-shot verified_near_dups law.
  semdedup StreamingSemDedup — the replay path must EXCLUDE the
           replayed epoch's own store partition from its read (or the
           batch dedups against its own half-written keeps). Twin = a
           CLEAN single-process stream over the same file sequence;
           crashed+restarted kept/dropped sets must match it exactly.

The kill is a raw SIGKILL (no atexit, no JVM shutdown hooks) — the
crash-vs-graceful-stop distinction VERDICT r8 ask #6 calls out: the
checkpoint WAL has seen the batch, the commit log has not.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    root, phase = sys.argv[1], sys.argv[2]
    sink = sys.argv[3] if len(sys.argv) > 3 else "lm"
    src = os.path.join(root, "src")

    from polar_spark.session import get_spark

    spark = get_spark(app_name=f"chaos_{phase}", shuffle_partitions=4)

    if phase == "prep":
        from polar_spark.sources.tables import load_table

        if sink == "lm":
            from polar_spark.functions.lm import train_bigram_counts

            docs = load_table(spark, "/root/testdata/sf0.001", "documents")
            docs.repartition(5).write.mode("overwrite").parquet(src)
            want = train_bigram_counts(spark.read.parquet(src), "text")
        elif sink == "neardup":
            from polar_spark.functions.dedup import verified_near_dups

            docs = load_table(spark, "/root/testdata/sf0.001", "documents")
            d = docs.select("doc_id", "text")
            d.repartition(5).write.mode("overwrite").parquet(src)
            want = verified_near_dups(
                spark.read.parquet(src), "doc_id", "text", threshold=0.7
            ).select(
                "id_a", "id_b", F_round("jaccard")
            )
        else:  # semdedup / semlsh: quantized embedding corpus; twin is
            # built by a CLEAN stream in the run phase (crash-equivalence)
            from polar_spark.functions.similarity import quantize

            e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
            qv = e.select("vec_id", quantize("embedding").alias("v"))
            qv.repartition(5).write.mode("overwrite").parquet(src)
            return
        want.write.mode("overwrite").parquet(os.path.join(root, "want"))
        return

    kill_epoch = int(sys.argv[4])
    when = sys.argv[5] if len(sys.argv) > 5 else "before"

    import polar_spark.store as store

    if kill_epoch >= 0:
        orig_record = store.EpochLedger.record

        def record(self, key: str, epoch: int, force: bool = False) -> None:
            if epoch == kill_epoch and when == "before":
                os.kill(os.getpid(), 9)
            orig_record(self, key, epoch, force)
            if epoch == kill_epoch and when == "after":
                os.kill(os.getpid(), 9)

        store.EpochLedger.record = record

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if sink == "lm":
        from polar_spark.streaming.lm import StreamingBigramLM

        s = StreamingBigramLM(spark, os.path.join(root, "store"))
        q = s.start(stream, checkpoint_dir=os.path.join(root, "cp"))
        q.awaitTermination(300)
        got = s.counts()
        want = spark.read.parquet(os.path.join(root, "want"))
    elif sink == "neardup":
        from polar_spark.streaming.dedup import StreamingNearDup

        s = StreamingNearDup(
            spark,
            os.path.join(root, "idx"),
            os.path.join(root, "pairs"),
            threshold=0.7,
        )
        q = s.start(stream, checkpoint_dir=os.path.join(root, "cp"))
        q.awaitTermination(300)
        got = s.pairs().select("id_a", "id_b", F_round("jaccard"))
        want = spark.read.parquet(os.path.join(root, "want"))
    elif sink == "semlsh":
        from pyspark.sql import functions as F

        from polar_spark.streaming.dedup import StreamingSemDedupLSH

        def mk(prefix: str) -> "StreamingSemDedupLSH":
            return StreamingSemDedupLSH(
                spark,
                os.path.join(root, f"{prefix}idx"),
                os.path.join(root, f"{prefix}drops"),
                dims=64, bands=16, planes_per_band=4, tau_sq_pct=1600,
            )

        s = mk("")
        q = s.start(stream, checkpoint_dir=os.path.join(root, "cp"))
        q.awaitTermination(300)
        got = s.kept().select("vec_id").withColumn(
            "keep", F.lit(1)
        ).unionByName(
            s.dropped().select("vec_id").withColumn("keep", F.lit(0))
        )
        # twin: a CLEAN stream over the SAME file sequence in this
        # (restarted) process — fresh stores, fresh checkpoint
        tw = mk("tw_")
        qt = tw.start(stream, checkpoint_dir=os.path.join(root, "cp_tw"))
        qt.awaitTermination(300)
        want = tw.kept().select("vec_id").withColumn(
            "keep", F.lit(1)
        ).unionByName(
            tw.dropped().select("vec_id").withColumn("keep", F.lit(0))
        )
    else:
        from pyspark.sql import functions as F

        from polar_spark.functions.similarity import NLIST
        from polar_spark.streaming.dedup import StreamingSemDedup

        qv = spark.read.parquet(src)
        cents = [
            (r["vec_id"], r["v"])
            for r in qv.filter(F.col("vec_id") < NLIST)
            .orderBy("vec_id")
            .collect()
        ]
        TAU = 1600  # cosine >= 0.40 — exercises drops on this corpus
        s = StreamingSemDedup(
            spark, os.path.join(root, "idx"), os.path.join(root, "drops"),
            cents, tau_sq_pct=TAU,
        )
        q = s.start(stream, checkpoint_dir=os.path.join(root, "cp"))
        q.awaitTermination(300)
        got = s.kept().select("vec_id").withColumn(
            "keep", F.lit(1)
        ).unionByName(
            s.dropped().select("vec_id").withColumn("keep", F.lit(0))
        )
        # the twin: a CLEAN stream over the SAME file sequence in this
        # (restarted) process — fresh stores, fresh checkpoint
        tw = StreamingSemDedup(
            spark, os.path.join(root, "idx_tw"),
            os.path.join(root, "drops_tw"), cents, tau_sq_pct=TAU,
        )
        qt = tw.start(stream, checkpoint_dir=os.path.join(root, "cp_tw"))
        qt.awaitTermination(300)
        want = tw.kept().select("vec_id").withColumn(
            "keep", F.lit(1)
        ).unionByName(
            tw.dropped().select("vec_id").withColumn("keep", F.lit(0))
        )
    diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    with open(os.path.join(root, "verdict.json"), "w") as f:
        json.dump(
            {"diff": diff, "got": got.count(), "want": want.count()}, f
        )


def F_round(col: str):
    """jaccard to 9 dp for the compare (floats via different join orders
    are still identical here, but the law test's rounding convention is
    kept for parity)."""
    from pyspark.sql import functions as F

    return F.round(col, 9).alias("jaccard")


if __name__ == "__main__":
    main()
