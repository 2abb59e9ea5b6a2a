"""Full-registry timing sweep: every registered query at a given sf
(default sf0.1), slowest first, as JSON.  Per query it records
``oneshot_sec`` (rebuild + execute, min of 2 after a warm-up: the cost
a single invocation pays, build-time pins included), which ranks and
attributes the tail, and ``steady_sec`` (re-execution of one built
DataFrame, the pre-r12 protocol, kept for comparability).  The round
bench (bench.py) measures the curated headline + llm_suite sets; this
sweep is the hot-spot finder — run it after a feature wave and
optimize anything that stands out (round 4 found the PPJoin candidate
stage and the LSH signature shuffle this way).

Usage:
    python scripts/bench_sweep.py [--sf-dir DIR] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/bench_sweep.json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from mkpipe_extractor_clickhouse_spark.registry import all_specs
    from mkpipe_extractor_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="bench_sweep")
    spark.sparkContext.setLogLevel("ERROR")

    # Output-volume counters for the sweep's tail: the near-dup family
    # dominates wall-clock BECAUSE it emits millions of true pairs on
    # the 31-token-vocabulary fixture (output-bound, not plan-bound) —
    # n_out rows make the artifact self-explaining instead of looking
    # like a slow operator.
    N_OUT_TAGS = {"L1", "L2", "fuzzy"}
    times: dict[str, float] = {}
    n_out: dict[str, int] = {}
    errors: dict[str, str] = {}
    specs = all_specs()
    names = args.names or sorted(specs)
    oneshot: dict[str, float] = {}
    for name in names:
        try:
            df = specs[name].builder(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()  # cold+warm
            # min-of-2 steady runs: a single-shot sweep conflates the
            # plan with whatever GC/JIT episode the 463-query session
            # is in (r11: one shot showed l98 37.6 s in-session vs
            # 3.9 s isolated — 10× pure noise)
            reps = []
            for _ in range(2):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                reps.append(time.perf_counter() - t0)
            times[name] = round(min(reps), 3)
            # ONE-SHOT reps (r12 measurement fix): builders that pin a
            # reused relation (ephemeral_cache = eager localCheckpoint)
            # run the pinned subtree at BUILD time, so the steady reps
            # above re-read checkpoint blocks and never pay the 1×
            # pinned compute — steady_sec underestimates the cost a
            # single build+execute invocation (the driver's correctness
            # run, a real user) actually pays. oneshot_sec times
            # rebuild+execute per rep: fresh checkpoints each rep, the
            # pin's 1× compute and write are inside the timed region
            # (plan-construction py4j chatter is included too — real,
            # constant, small). Ranking/attribution uses oneshot_sec;
            # steady_sec is kept for round-over-round comparability.
            o_reps = []
            for _ in range(2):
                t0 = time.perf_counter()
                odf = specs[name].builder(spark, args.sf_dir)
                odf.write.format("noop").mode("overwrite").save()
                o_reps.append(time.perf_counter() - t0)
            oneshot[name] = round(min(o_reps), 3)
            if N_OUT_TAGS & set(specs[name].tags or ()):
                n_out[name] = df.count()
            print(
                f"{times[name]:8.3f}s  one-shot {oneshot[name]:8.3f}s  {name}"
                + (f"  [{n_out[name]} rows out]" if name in n_out else ""),
                flush=True,
            )
        except Exception as e:  # noqa: BLE001
            errors[name] = str(e)[:200]
            traceback.print_exc(limit=1)
        finally:
            # isolate queries: several builders cache small relations
            # (LSH histograms, loss tables, quantized embeddings);
            # across 440+ queries in ONE session the accumulation
            # pressures the JVM heap until broadcast builds fail
            # (observed: z2_salted_join 'Not enough memory to build
            # and broadcast' only at sweep position ~430)
            spark.catalog.clearCache()
    # retime pass: anything still > 3 s ONE-SHOT gets one more timed
    # rebuild+run at the END of the session — if the tail number was a
    # transient pressure episode the retime beats it; if it is the
    # plan, it reproduces. oneshot_sec keeps the min; retimed_tail
    # records both.
    retimed_tail: dict[str, list[float]] = {}
    for name in [n for n, v in sorted(oneshot.items(), key=lambda kv: -kv[1])
                 if v > 3.0]:
        try:
            df = specs[name].builder(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            t0 = time.perf_counter()
            df = specs[name].builder(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            rt = round(time.perf_counter() - t0, 3)
        except Exception:  # noqa: BLE001
            continue
        finally:
            spark.catalog.clearCache()
        retimed_tail[name] = [oneshot[name], rt]
        if rt < oneshot[name]:
            oneshot[name] = rt
        print(f"retime {name}: {retimed_tail[name]}", flush=True)

    ranked = dict(sorted(times.items(), key=lambda kv: -kv[1]))
    ranked_oneshot = dict(sorted(oneshot.items(), key=lambda kv: -kv[1]))
    from bench_scaleup import _measured_on  # same provenance stamp as SCALEUP

    payload = {
        "measured_on": _measured_on(),
        "sf_dir": args.sf_dir,
        "steady_sec": ranked,
        "oneshot_sec": ranked_oneshot,
        "oneshot_note": (
            "r12 measurement fix: oneshot_sec times REBUILD+execute "
            "(min-of-2 after warmup), so eager-localCheckpoint pins "
            "inside builders are paid inside the timed region; "
            "steady_sec (re-execution of a built DataFrame, the "
            "pre-r12 protocol) is kept for comparability but "
            "under-counts pinned builders. Ranking/attribution should "
            "use oneshot_sec."
        ),
        "total_oneshot": round(sum(oneshot.values()), 1),
        "n_out": dict(sorted(n_out.items(), key=lambda kv: -kv[1])),
        "n_out_note": (
            "output row counts for the dedup/fuzzy families — the sweep "
            "tail is output-bound on the fixtures' 31-token vocabulary "
            "(millions of true near-dup pairs), not plan-bound"
        ),
        "total": round(sum(times.values()), 1),
        "errors": errors,
        "protocol": (
            "min-of-2 steady noop runs per query; >3 s tail retimed "
            "once at session end (retimed_tail: [in-run, retime]) — "
            "in-session single shots showed 10x transient GC/JIT noise"
        ),
        "retimed_tail": retimed_tail,
    }
    Path(args.out).write_text(json.dumps(payload, indent=1))
    print(f"-- {len(times)} timed, {len(errors)} errors → {args.out}")
    print("slowest (one-shot):",
          json.dumps(dict(list(ranked_oneshot.items())[:15])))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
