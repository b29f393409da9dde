"""Full-corpus shuffle-ledger snapshot (r16 verdict item #5, carried
from r15 item #7): the bench ledger covers only the 51 headline
queries, so the other ~200 had no byte-drift tripwire — and with the
driver's 50-slot correctness window rotating, an out-of-window query
could silently change plan shape for a round. This snapshot runs EVERY
registered query at sf0.01 with the same drained-listener shuffle
bracket bench.py uses and writes LEDGER_FULL.json; diff two snapshots
across rounds (or against git) exactly like tools/ledger_diff.py does
for the bench ledger — any byte change on a query whose code did not
change is the drift signal.

Caveats (same as the bench ledger): iterative CC-family queries carry
a documented ± wobble in a warm multi-query session (compressed size
of per-round frames depends on within-partition row order); their
arbiter is tools/shuffle_probe.py in isolation. Streaming queries
drive real micro-batch runs whose sink/checkpoint dirs are fresh per
call, so their bytes are stable too.

Each query also records how many classes Janino compiled for it
(Spark's ``CodegenMetrics`` compile counter). In one session a class
compiles once while it stays in the codegen cache, so over the sweep the
per-query counts are the classes each query adds to the session's working
set, and ``codegen_compiles_total`` is the working set of the whole
registry — the figure ``spark.sql.codegen.cache.maxEntries`` in
``session.spark_conf_defaults`` is sized from. The figure is exact only
while the total stays below ``codegen_cache_max_entries``; past it the
cache evicts and recompiles inflate the counts.

The per-query deltas come from the status store, which evicts the oldest
jobs and stages past ``spark.ui.retainedJobs`` / ``retainedStages``; the
sweep raises both caps and stops with an error as soon as the store
holds as many jobs or stages as either cap, instead of writing deflated
deltas.

Usage: python tools/ledger_full.py [sf_dir]     (default sf0.01)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from stockpy_spark.session import get_spark


RETAINED = 100000


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(
        "ledger_full",
        extra_conf={
            "spark.ui.retainedJobs": str(RETAINED),
            "spark.ui.retainedStages": str(RETAINED),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from stockpy_spark.registry import QUERIES

    sc = spark.sparkContext
    compile_time = (
        sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )

    def shuffle_total() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        empty = sc._jvm.java.util.ArrayList()
        stages = store.stageList(
            empty,
            *[getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        )
        n_jobs = store.jobsList(None).size()
        if n_jobs >= RETAINED or stages.size() >= RETAINED:
            raise RuntimeError(
                f"status store holds {n_jobs} jobs / {stages.size()} stages, "
                f"cap {RETAINED}: older entries may be evicted"
            )
        return sum(
            stages.apply(i).shuffleWriteBytes() for i in range(stages.size())
        )

    c_start = compile_time.getCount()
    QUERIES["a2_count_star"](spark, sf_dir).collect()

    out: dict[str, float] = {}
    compiles: dict[str, int] = {}
    errs: dict[str, str] = {}
    t_start = time.time()
    for name, fn in QUERIES.items():
        w0 = shuffle_total()
        c0 = compile_time.getCount()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # record, keep sweeping
            errs[name] = str(e)[:200]
        else:
            compiles[name] = compile_time.getCount() - c0
            out[name] = round((shuffle_total() - w0) / 1e6, 3)
        print(
            f"  {name}: {out.get(name, 'ERR')} MB, "
            f"{compiles.get(name, 'ERR')} compiles",
            file=sys.stderr,
        )

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "LEDGER_FULL.json",
    )
    with open(path, "w") as fh:
        json.dump(
            {
                "sf_dir": sf_dir,
                "n_queries": len(out),
                "wall_total_s": round(time.time() - t_start, 1),
                "shuffle_write_mb": dict(sorted(out.items())),
                "codegen_compiles": dict(sorted(compiles.items())),
                "codegen_compiles_total": compile_time.getCount() - c_start,
                "codegen_cache_max_entries": int(
                    spark.conf.get("spark.sql.codegen.cache.maxEntries")
                ),
                "errors": errs,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")
    print(f"wrote {path}: {len(out)} queries, {len(errs)} errors")


if __name__ == "__main__":
    main()
