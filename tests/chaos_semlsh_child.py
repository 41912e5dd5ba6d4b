"""Child process for the stored-LSH index append/compact SIGKILL chaos
tests (NOT a pytest module — driven by tests/test_chaos_kill.py via
subprocess).

The batch semlsh table lives in the session CATALOG, so unlike the
directory-store chaos children these phases run against a PERSISTENT
(hive/derby) catalog rooted under <root> — the only way a raw process
kill can leave a half-swapped catalog state for a fresh process to
find, which is exactly the window under test (VERDICT r12 ask #2:
``compact_semlsh_index`` loses the canonical name if killed between
DROP and RENAME).

argv: <root> <phase> [<when>]

Phases:
  prep                  write the index over half the sf0.001
                        embeddings, append the other half (the
                        append≡rebuild law holds by pytest elsewhere),
                        and record the expected drop set to <root>/want
  compact <when>        run compact_semlsh_index and SIGKILL OURSELVES
                        around the swap: ``before_drop`` (tmp complete
                        and property-pinned, original still bound) or
                        ``after_drop`` (original dropped, tmp not yet
                        renamed — the r12 unrecoverable window).
  append_kill           run append_semlsh_index with a watcher thread
                        that SIGKILLs the process the moment the
                        table's _temporary dir appears — a genuine
                        mid-write kill inside the real append path.
  finish                fresh process: the first verify over the store
                        must self-heal the catalog (recover_semlsh_swap
                        rides every entry) and produce the EXPECTED
                        drop set; then a full compact must succeed and
                        re-verify; write verdict.json.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLE = "chaos_semlsh"
SF = "/root/testdata/sf0.001"


def _spark(root: str, app: str):
    from polar_spark.session import get_spark

    return get_spark(
        app_name=app,
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(root, "wh"),
            "spark.sql.catalogImplementation": "hive",
            "javax.jdo.option.ConnectionURL": (
                f"jdbc:derby:;databaseName={root}/metastore_db;create=true"
            ),
            # Hive's session state makes a <uuid>_resources dir here,
            # not in the system temp dir
            "hive.downloaded.resources.dir": os.path.join(root, "hive_resources"),
        },
    )


def _qv(spark):
    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import quantize
    from polar_spark.sources.tables import load_table

    return load_table(spark, SF, "embeddings").select(
        "vec_id", quantize("embedding").alias("v")
    )


def main() -> None:
    root, phase = sys.argv[1], sys.argv[2]
    spark = _spark(root, f"chaos_semlsh_{phase}")

    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import semdedup_lsh_drop_ids
    from polar_spark.sources import semlsh_index as SL

    if phase == "prep":
        qv = _qv(spark)
        SL.write_semlsh_index(
            qv.filter(F.col("vec_id") % 2 == 0), TABLE,
            dims=64, bands=16, planes_per_band=4,
            path=os.path.join(root, "idx_v1"),
        )
        SL.append_semlsh_index(qv.filter(F.col("vec_id") % 2 == 1), TABLE)
        semdedup_lsh_drop_ids(
            qv, 64, bands=16, planes_per_band=4, tau_sq_pct=1600
        ).write.mode("overwrite").parquet(os.path.join(root, "want"))
        return

    if phase == "compact":
        when = sys.argv[3]
        orig_sql = type(spark).sql

        def sql_with_kill(self, q, *a, **kw):
            if isinstance(q, str) and q.strip() == f"DROP TABLE {TABLE}":
                if when == "before_drop":
                    os.kill(os.getpid(), 9)
                r = orig_sql(self, q, *a, **kw)
                if when == "after_drop":
                    os.kill(os.getpid(), 9)
                return r
            return orig_sql(self, q, *a, **kw)

        type(spark).sql = sql_with_kill
        SL.compact_semlsh_index(spark, TABLE, os.path.join(root, "idx_v2"))
        raise SystemExit("kill point never reached")

    if phase == "append_kill":
        # genuine mid-write kill: the commit protocol stages files under
        # <table>/_temporary; kill as soon as it exists
        loc = os.path.join(root, "idx_v1")

        def watcher():
            # poll for as long as the test's subprocess timeout allows:
            # on a contended host, params lookup + planning alone can
            # take tens of seconds before the write job (and its
            # _temporary staging dir) exists — a short watcher window
            # lets the append complete unkilled and flakes the test.
            for _ in range(80_000):
                if os.path.isdir(os.path.join(loc, "_temporary")):
                    os.kill(os.getpid(), 9)
                time.sleep(0.01)

        threading.Thread(target=watcher, daemon=True).start()
        qv = _qv(spark)
        extra = qv.select(
            (F.col("vec_id") + 100000).alias("vec_id"), "v"
        )
        SL.append_semlsh_index(extra, TABLE)
        raise SystemExit("kill point never reached")

    if phase == "finish":
        expect_extra = sys.argv[3] == "with_extra" if len(sys.argv) > 3 else False
        want = sorted(
            r["drop_id"]
            for r in spark.read.parquet(os.path.join(root, "want")).collect()
        )
        if expect_extra:
            # the caller's at-least-once retry of the killed append.
            # Every +100000 id is an EXACT copy of its base vector, so
            # the expected drop set is want plus every extra id (each
            # has an identical lower-id partner) — and that expectation
            # is invariant to whether the torn append left zero or some
            # committed files behind: duplicate band rows only duplicate
            # candidate pairs, the drop set is distinct.
            qv = _qv(spark)
            extra = qv.select(
                (F.col("vec_id") + 100000).alias("vec_id"), "v"
            )
            SL.append_semlsh_index(extra, TABLE)
            all_ids = [r["vec_id"] for r in qv.select("vec_id").collect()]
            want = sorted(set(want) | {i + 100000 for i in all_ids})
        got = sorted(
            r["drop_id"]
            for r in SL.semdedup_lsh_drop_ids_stored(
                spark, TABLE, 1600
            ).collect()
        )
        diff_before = len(set(want) ^ set(got))
        stats = SL.compact_semlsh_index(
            spark, TABLE, os.path.join(root, "idx_v3")
        )
        got2 = sorted(
            r["drop_id"]
            for r in SL.semdedup_lsh_drop_ids_stored(
                spark, TABLE, 1600
            ).collect()
        )
        n_rows = spark.table(TABLE).count()
        with open(os.path.join(root, "verdict.json"), "w") as f:
            json.dump(
                {
                    "want": len(want),
                    "diff_before_recovery_compact": diff_before,
                    "diff_after_recovery_compact": len(set(want) ^ set(got2)),
                    "files_after": stats["files_after"],
                    "rows": n_rows,
                    "expect_extra": expect_extra,
                },
                f,
            )
        return

    raise SystemExit(f"unknown phase {phase}")


if __name__ == "__main__":
    main()
