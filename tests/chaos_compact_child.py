"""Child process for the mid-COMPACTION SIGKILL chaos test (NOT a
pytest module — driven by tests/test_chaos_kill.py via subprocess).

argv: <root> <phase> [<when>]

Phases:
  prep               build a StreamingKMV epoch store with 3 committed
                     epochs (apply_batch) over the sf0.001 events table
                     and write the expected estimate (the one-shot
                     batch sketch) to <root>/want.parquet
  compact <when>     run sink.compact() and SIGKILL OURSELVES at the
                     commit point: ``before`` the manifest write (the
                     new base dir is fully written but unreferenced) or
                     ``after`` it (manifest committed, the folded
                     source dirs not yet GC'd — both still on disk).
  finish             fresh process: assert the estimate equals the
                     batch twin DESPITE the torn compaction, run
                     compact() to complete the recovery, re-assert, and
                     write verdict.json.

The kill is a raw SIGKILL mid-compaction — the crash states the
compaction pytest simulates by hand (test_compaction.py laws 5a/5b)
produced here by an actual process death inside the real code path.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _sink(spark, root):
    from polar_spark.streaming.sketches import StreamingKMV

    return StreamingKMV(
        spark, os.path.join(root, "store"), ["event_type"], "user_id", k=64
    )


def main() -> None:
    root, phase = sys.argv[1], sys.argv[2]

    from polar_spark.session import get_spark
    from polar_spark.sources.tables import load_table

    spark = get_spark(app_name=f"chaos_compact_{phase}", shuffle_partitions=4)

    if phase == "prep":
        from polar_spark.functions.sketches import kmv_distinct

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        sink = _sink(spark, root)
        for ep in range(3):
            sink.apply_batch(
                ev.filter(f"user_id % 3 = {ep}"), ep, os.path.join(root, "cp")
            )
        kmv_distinct(ev, ["event_type"], "user_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "want"))
        return

    if phase == "compact":
        when = sys.argv[3]
        import polar_spark.store as store

        orig = store._write_manifest

        def write_manifest(root, man):
            # only the COMMIT write (non-empty folded list) is the kill
            # point — the GC's folded-list clear must pass through
            if man.get("folded"):
                if when == "before":
                    os.kill(os.getpid(), 9)
                orig(root, man)
                if when == "after":
                    os.kill(os.getpid(), 9)
                return
            orig(root, man)

        store._write_manifest = write_manifest
        _sink(spark, root).compact()
        return

    # finish: correctness despite the torn compaction, then recovery
    sink = _sink(spark, root)
    got = sink.estimate()
    want = spark.read.parquet(os.path.join(root, "want"))
    diff0 = got.exceptAll(want).count() + want.exceptAll(got).count()
    folded, live = sink.compact()
    got2 = sink.estimate()
    diff1 = got2.exceptAll(want).count() + want.exceptAll(got2).count()
    # GC is deferred one generation: the recovery compact's own sources
    # persist until the NEXT compact's entry GC — run that GC-only pass
    # so dirs_after reflects the fully-converged store
    sink.compact()
    names = sorted(e.name for e in sink._partition_dirs())
    with open(os.path.join(root, "verdict.json"), "w") as f:
        json.dump(
            {
                "diff_before_recovery": diff0,
                "diff_after_recovery": diff1,
                "live_after": live,
                "dirs_after": names,
                "want": want.count(),
            },
            f,
        )


if __name__ == "__main__":
    main()
