"""Measured scale curves across sf0.001 / sf0.01 / sf0.1 (round-11
verdict, next #5: SCALE.md's O() claims are plan-pinned but were never
MEASURED across scale — record per-entry wall time at all three
fixture scales and compute the growth exponent, flagging any entry
whose time grows faster than its design contract predicts).

Protocol: one shared session (the catalog's per-fixture caches key on
(session, sf_dir), so the three scales never share state), one
timed pass per (entry, sf) in ascending-sf order, forced through the
noop sink (bench_full.py's convention). Fast entries are dominated by
fixed job-submission overhead (~0.1-0.5 s), so the exponent is only
meaningful where the sf0.1 time clears an overhead floor; entries
under the floor are reported but never flagged.

Exponent: e = log10(t(sf0.1) / t(sf0.01)) — the per-decade growth over
the largest step, where data grows 10x. e <= ~1 is at-most-linear;
entries with e > FLAG_EXPONENT and t(sf0.1) > FLAG_FLOOR_SEC are
re-run best-of-3 at both scales (load-drained adjudication, the
bench_full idiom) and flagged only if the re-run confirms.

Prints ONE JSON line; the driver-facing copy lands as
SCALING_r{N}.json and SCALE.md carries the per-family summary.

Usage:
  SPARK_GRAFT_CPUS=32 python3 scripts/scaling.py > SCALING_r12.json
  # or a subset (late-added entries, merged into the artifact by hand):
  SPARK_GRAFT_CPUS=32 python3 scripts/scaling.py name1 name2 ...
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chchfr_data_collection_spark.queries import catalog  # noqa: E402
from chchfr_data_collection_spark.session import get_spark  # noqa: E402

SFS = ["0.001", "0.01", "0.1"]
FLAG_EXPONENT = 1.15  # > linear-per-decade, with headroom for noise
FLAG_FLOOR_SEC = 5.0  # below this, fixed overhead dominates the ratio


def main() -> None:
    spark = get_spark("scaling")
    cat = catalog()
    names = sorted(cat)
    if len(sys.argv) > 1:
        wanted = set(sys.argv[1:])
        unknown = sorted(wanted - set(names))
        if unknown:
            raise SystemExit(f"unknown entries: {unknown}")
        names = sorted(wanted)
    spark.range(1).count()

    load_before = os.getloadavg()[0]
    secs: dict[str, dict[str, float | dict]] = {n: {} for n in names}
    errors: dict[str, str] = {}

    def run(name: str, sf: str) -> float | None:
        sf_dir = f"/root/testdata/sf{sf}"
        t0 = time.perf_counter()
        try:
            cat[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:
            errors[f"{name}@{sf}"] = f"{type(exc).__name__}: {exc}"[:300]
            return None
        return round(time.perf_counter() - t0, 3)

    for sf in SFS:  # ascending: small scales warm code paths cheaply
        for name in names:
            t = run(name, sf)
            if t is not None:
                secs[name][sf] = t

    def exponent(name: str) -> float | None:
        a, b = secs[name].get("0.01"), secs[name].get("0.1")
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return None
        if a <= 0 or b <= 0:
            return None
        return round(math.log10(b / a), 3)

    exps = {n: exponent(n) for n in names}
    suspects = sorted(
        n
        for n in names
        if exps[n] is not None
        and exps[n] > FLAG_EXPONENT
        and isinstance(secs[n].get("0.1"), (int, float))
        and secs[n]["0.1"] > FLAG_FLOOR_SEC
    )

    # adjudicate: best-of-3 re-run at both scales after the sweep's
    # cache/GC pressure has drained
    adjudication: dict[str, dict] = {}
    confirmed: list[str] = []
    for name in suspects:
        best = {}
        for sf in ("0.01", "0.1"):
            ts = [t for t in (run(name, sf) for _ in range(3)) if t is not None]
            if ts:
                best[sf] = min(ts)
        re_exp = (
            round(math.log10(best["0.1"] / best["0.01"]), 3)
            if best.get("0.01") and best.get("0.1")
            else None
        )
        adjudication[name] = {
            "sweep_exponent": exps[name],
            "standalone": best,
            "standalone_exponent": re_exp,
        }
        if re_exp is not None and re_exp > FLAG_EXPONENT and (
            best.get("0.1", 0) > FLAG_FLOOR_SEC
        ):
            confirmed.append(name)

    print(
        json.dumps(
            {
                "metric": "scale_curve_sweep",
                "unit": "sec",
                "sfs": SFS,
                "flag_exponent": FLAG_EXPONENT,
                "flag_floor_sec": FLAG_FLOOR_SEC,
                "n_queries": len(names),
                "seconds": secs,
                "exponent_001_to_01": {
                    n: (
                        round(math.log10(secs[n]["0.01"] / secs[n]["0.001"]), 3)
                        if isinstance(secs[n].get("0.001"), (int, float))
                        and isinstance(secs[n].get("0.01"), (int, float))
                        else None
                    )
                    for n in names
                },
                "exponent_01_to_1": exps,
                "suspects": suspects,
                "adjudication": adjudication,
                "confirmed_superlinear": confirmed,
                "errors": errors,
                "loadavg": [load_before, os.getloadavg()[0]],
            }
        )
    )


if __name__ == "__main__":
    main()
