"""Shows that every output check of the benchmark can fail.

    python3 perfbench/selftest.py

Builds each workload's real output once (seed 1), confirms its check
passes, then feeds the check deliberately perturbed copies and confirms
each one is caught. Also confirms that a rep whose digest differs from
the check pass's is caught. Exits 1 if any perturbation goes unnoticed.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _perturbed(frame, col, rows, value):
    """A copy of ``frame`` with ``value`` written into ``col`` at ``rows``."""
    out = frame.copy()
    out.loc[rows, col] = value
    return out


def main() -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import numpy as np

    from perfbench import checks, run
    from perfbench.workloads import WORKLOADS, derived, pit_check_inputs, pit_plan, write_parquet
    from proxyfeatureextraction_spark import schema as S

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(run.OUT, "selftest")
    run._prepare_env(work)
    spark = run._session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    results: list[tuple[str, bool]] = []

    def expect(label: str, errors: list[str], should_fail: bool) -> None:
        ok = bool(errors) == should_fail
        results.append((label, ok))
        print(f"{'ok  ' if ok else 'MISS'} {label}: {errors[:1] if errors else 'passes'}")

    try:
        ex = WORKLOADS["extract"](spark, 1, work, cores)
        ex.generate()
        out = ex.collect_checked()
        gated = out.index[out[S.CONV] == "conv_1"]  # 20 turns: exactly K, gated
        ungated = out.index[out[S.CONV] == "conv_0"]  # 19 turns: below K=20
        expect("extract as produced", checks.check_extract(out, ex.transcripts), False)
        for label, col, rows, value in (
            ("extract hayes value off by 1e-3", "avg_order_in", gated,
             out.loc[gated, "avg_order_in"] + 1e-3),
            ("extract corr median off by 1e-2", "corr_median", gated,
             out.loc[gated, "corr_median"] + 1e-2),
            ("extract host value on an ungated conversation", "pkts_rate", ungated, 1.0),
        ):
            expect(label, checks.check_extract(_perturbed(out, col, rows, value), ex.transcripts), True)
        expect("extract one row missing", checks.check_extract(out.iloc[1:], ex.transcripts), True)
        got = ex.rep()
        expect("rep digest as produced", [] if got == ex.expected else ["differs"], False)
        wrong = dict(ex.expected, rows=ex.expected["rows"] - 1)
        expect("rep digest vs a wrong count", [] if got == wrong else ["differs"], True)

        # the pit output of extract's transcript table, as the traced pass writes it
        pit_out = os.path.join(work, "pit_out")
        write_parquet(pit_plan(derived(spark, ex.path)), pit_out)
        full, plain, truncated, cutoff, routed, over, heavy = pit_check_inputs(spark, ex.path, pit_out)
        expect("pit as produced", checks.check_pit(full, plain, truncated, cutoff, routed, over, heavy), False)
        row = full.index[len(full) // 2]
        early = truncated.index[truncated[S.TS] <= cutoff][0]
        expect("pit auto differs from plain",
               checks.check_pit(_perturbed(full, "cum_n_chars", [row], -1),
                                plain, truncated, cutoff, routed, over, heavy), True)
        expect("pit truncated output sees later rows",
               checks.check_pit(full, plain,
                                _perturbed(truncated, "roll_avg_chars_10", [early], np.pi),
                                cutoff, routed, over, heavy), True)
        expect("pit router sends a plain conversation to the blocked path",
               checks.check_pit(full, plain, truncated, cutoff, routed | {"conv_100"}, over, heavy), True)

        cur = WORKLOADS["curate"](spark, 1, work, cores)
        cur.generate()
        cout = cur.collect_checked()
        expect("curate as produced", checks.check_curate(cout, cur.docs), False)
        kept = cout.index[cout["reason"] == "kept"][:1]
        expect("curate a kept doc relabelled duplicate",
               checks.check_curate(_perturbed(cout, "reason", kept, "duplicate"), cur.docs), True)
        expect("curate one row missing", checks.check_curate(cout.iloc[1:], cur.docs), True)
    finally:
        run._shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    missed = [label for label, ok in results if not ok]
    print(f"{len(results) - len(missed)}/{len(results)} self-test cases behave as expected")
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
