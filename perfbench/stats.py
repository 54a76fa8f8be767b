"""The benchmark's statistics: percentiles, the tail rule, failure
counting, the paired A/B rule and the record schema. Pure functions,
tested by test_stats.py.
"""
import statistics

# Percentiles the tail rule may pick, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, pct):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n, min_beyond=10):
    """The highest percentile on TAIL_LADDER with at least `min_beyond`
    of `n` samples beyond it, or None when even the median has fewer.
    """
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= min_beyond:
            return p
    return None


def fail_ratio(failed, attempted):
    """Failed operations over attempted ones."""
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


def count_replies(replies):
    """(attempted, failed) over `/price` replies, each a dict with
    `expect` (200 or 400), `status` (-1 for a transport error), and for
    a 200 the `price` served and the `want` price. An expected 400 is a
    success; any other status, or a price that is not bit-equal, fails.
    """
    attempted = failed = 0
    for r in replies:
        attempted += 1
        if r["status"] != r["expect"]:
            failed += 1
        elif r["expect"] == 200 and r["price"] != r["want"]:
            failed += 1
    return attempted, failed


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def pair_verdict(parent, change, better, bound):
    """Apply the paired rule to one metric.

    `parent` and `change` are the metric's values from alternating pairs
    (same length, pair i is parent[i] vs change[i]); `better` is "lower"
    or "higher"; `bound` is the share of the parent's median by which the
    change may be worse before it is a regression.

    Returns (verdict, detail): "gain" when the change wins at least 9/10
    of all pairs (ties count for neither) and the medians differ by more
    than the parent's inter-quartile distance; "regression" when the
    change's median is worse than the parent's by more than the bound;
    "unresolved" when the parent's own spread exceeds the bound and the
    change does not beat every parent run; otherwise "same".
    """
    if len(parent) != len(change) or len(parent) < 2:
        raise ValueError("need matched pairs")
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    gap = sign * (pmed - cmed)  # > 0 when the change is better
    detail = {"pairs": len(parent), "wins": wins, "parent_median": pmed,
              "change_median": cmed, "parent_iqr": pq3 - pq1,
              "ratio": cmed / pmed if pmed else None}
    if wins * 10 >= 9 * len(parent) and gap > pq3 - pq1:
        return "gain", detail
    if -gap > bound * abs(pmed):
        return "regression", detail
    every_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if (pq3 - pq1) > bound * abs(pmed) and not every_better:
        return "unresolved", detail
    return "same", detail


RECORD_KEYS = {
    "schema": int, "workload": str, "seed": int, "traced": bool,
    "correct": bool, "attempted": int, "failed": int, "fail_ratio": float,
    "metrics": dict, "samples": dict, "provenance": dict,
}
PROVENANCE_KEYS = ("git_sha", "git_dirty", "tree_digest", "nproc", "mem_total_kb",
                   "jdk", "spark", "fixture_digest", "seed", "traced")


def check_record(rec):
    """Raise ValueError unless `rec` has the record schema."""
    for k, t in RECORD_KEYS.items():
        if k not in rec:
            raise ValueError(f"missing {k}")
        if not isinstance(rec[k], t) or (t is int and isinstance(rec[k], bool)):
            raise ValueError(f"{k} is not {t.__name__}")
    for k in PROVENANCE_KEYS:
        if k not in rec["provenance"]:
            raise ValueError(f"provenance missing {k}")
    for name, m in rec["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"metric {name} malformed")
    if rec["attempted"] < 1 or not 0 <= rec["failed"] <= rec["attempted"]:
        raise ValueError("bad counts")
