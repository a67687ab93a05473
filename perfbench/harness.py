"""The unit loop shared by plain and traced runs, output checks and the
accounting of attempted and failed operations."""

from __future__ import annotations

import statistics
import time
import traceback

from . import procstat, stats


def run_units(eng, wl, n_warm: int, kinds=("warm",)):
    """The first unit in the fresh session, then n_warm warm units (kinds
    cycled). Returns (units, output of the last unit of each kind);
    earlier outputs are released as a caller would."""
    units = []
    last: dict = {}
    u, out = eng.timed(0, "first", lambda: wl.unit(0))
    u.extra = wl.unit_extra(out)
    units.append(u)
    wl.release(out)
    for i in range(1, n_warm + 1):
        kind = kinds[(i - 1) % len(kinds)]
        fn = (lambda i=i: wl.traced_unit(i)) if kind == "traced" else (lambda i=i: wl.unit(i))
        u, out = eng.timed(i, kind, fn)
        u.extra = wl.unit_extra(out)
        units.append(u)
        if kind in last:
            wl.release(last[kind])
        last[kind] = out
    return units, last


def run_checks(check, out) -> tuple[dict, int, list[str]]:
    """Run an output check; returns (figures, checks attempted, names of
    the failed ones). A check that raises counts as one failed check."""
    if out is None:
        return {}, 1, ["unit_output_missing"]
    try:
        res = check(out)
    except Exception:
        traceback.print_exc()
        return {}, 1, ["check_raised"]
    checks = res.pop("checks")
    return res, len(checks), [name for name, ok in checks.items() if not ok]


def accounting(units, n_checks: int, failed_checks: list[str]) -> dict:
    """Operations attempted and failed: every unit and every check. A unit
    fails when it raises or any of its Spark tasks failed."""
    attempted = len(units) + n_checks
    failed = sum(1 for u in units if u.error or u.failed_tasks) + len(failed_checks)
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": not failed_checks and not any(u.error for u in units),
        "failed_share": failed / attempted,
    }


def run_plain(eng, wl, seconds: int) -> dict:
    units, last = run_units(eng, wl, wl.units_for(seconds))
    t0 = time.monotonic()
    figures, n_checks, failed_checks = run_checks(wl.check, last.get("warm"))
    checks_s = time.monotonic() - t0
    rss = procstat.tree_peak_rss()
    peak_rss = sum(rss.values())
    wl.release(last.get("warm"))

    warm = [u for u in units if u.kind == "warm" and u.error is None]
    walls = [u.wall_s for u in warm]
    acct = accounting(units, n_checks, failed_checks)
    metrics = {}
    if walls:
        run_s = statistics.median(walls)
        metrics = {
            "setup_s": {"value": eng.setup_s, "unit": "s"},
            "first_run_s": {"value": units[0].wall_s, "unit": "s"},
            "run_s": {"value": run_s, "unit": "s"},
            "pages_per_s": {"value": wl.n_pages / run_s, "unit": "1/s"},
            "cpu_s": {"value": statistics.median(u.cpu_s for u in warm), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
            "pairwise_f1": {"value": figures.get("pairwise_f1", 0.0), "unit": "1"},
        }
    else:
        acct["correct"] = False
    detail = {
        "units": [vars(u) for u in units],
        "run_s": stats.summary(walls),
        "cpu_s": stats.summary([u.cpu_s for u in warm]),
        "figures": figures,
        "failed_checks": failed_checks,
        "failed_share": acct.pop("failed_share"),
        "checks_s": checks_s,
        "peak_rss_by_process": rss,
    }
    resume = [u.extra["resume_s"] for u in warm if "resume_s" in u.extra]
    if resume:
        detail["resume_s"] = stats.summary(resume)
    return {**acct, "metrics": metrics, "detail": detail}
