"""Answer checks: every sketch answer against the exact answer and the
bound the library publishes for it.  Pure functions over collected rows,
so the self-test can feed them a wrong answer without Spark.

The published bounds are probabilistic: each answer is inside its bound
with a known probability.  An operation with thousands of answers may
therefore miss a bound a few times without being wrong, so misses are
counted and the operation fails only when there are more of them than
that probability allows.  Answers no sketch may give (an undercount, a
wrong row count, a missing key, an estimate far outside the bound) fail
the operation at once.

Each check returns a list of error strings; an empty list means the
operation's answers are right."""

from __future__ import annotations

import math
import re
from bisect import bisect_left, bisect_right

QS = (0.5, 0.9)
# the column names kll_quantiles gives those quantiles
QCOLS = tuple(f"q{re.sub(r'[^0-9a-zA-Z_]', '_', str(q))}" for q in QS)
HLL_RSE = 1.04 / math.sqrt(1 << 14)
# KLL k=200 normalized rank error is ~1.65% at 99% confidence; the
# library's own gates assert 2%
KLL_EPS = 0.02
WELFORD_REL = 1e-9
# probability that one answer misses its bound: HLL at 3 standard errors,
# KLL at KLL_EPS (99% confidence), CMS at eps * N (its delta)
MISS_P = {"hll": 0.0027, "kll": 0.01, "cms": 0.01}
# an answer this many bound-widths out is wrong, not unlucky
HARD = 2.0


class Misses:
    """Bound misses of one operation, judged against the binomial count
    the miss probability allows (mean plus three standard deviations)."""

    def __init__(self, family: str):
        self.p = MISS_P[family]
        self.answers = 0
        self.misses: list[str] = []

    def add(self, miss: str | None) -> None:
        self.answers += 1
        if miss:
            self.misses.append(miss)

    def errors(self) -> list[str]:
        mean = self.p * self.answers
        if len(self.misses) <= mean + 3 * math.sqrt(mean) + 1:
            return []
        return [f"{len(self.misses)} of {self.answers} answers miss their "
                f"bound, more than p={self.p} allows"] + self.misses[:3]


def hll_miss(est: int, exact: int) -> float:
    """Distance from the exact distinct count in units of the bound:
    3 standard errors (at least 3 absolute, for tiny counts)."""
    return abs(est - exact) / max(3 * HLL_RSE * exact, 3.0)


def kll_miss(values: list, est: float, q: float) -> float:
    """How far the estimate's exact rank range lies from q, in units of
    KLL_EPS (0 when the range contains q)."""
    n = len(values)
    lo, hi = bisect_left(values, est) / n, bisect_right(values, est) / n
    return max(lo - q, q - hi, 0.0) / KLL_EPS


def close(a: float, b: float) -> bool:
    return abs(a - b) <= WELFORD_REL * max(abs(b), 1.0)


def _judge(miss: float, what: str, errs: list, misses: Misses) -> None:
    """A miss beyond HARD bound-widths is an error; beyond 1, a miss."""
    if miss > HARD:
        errs.append(f"{what}: {miss:.1f} bound-widths out")
    misses.add(f"{what}: {miss:.2f} bound-widths out" if miss > 1 else None)


def _coverage(op: str, seen: set, expected) -> list[str]:
    missing = set(expected) - seen
    return [f"{op}: no answer for {len(missing)} keys, e.g. "
            f"{sorted(missing, key=str)[:2]}"] if missing else []


def check_batch(op: str, rows, keys: list[str], exact: dict, items: dict,
                cms_eps: float) -> list[str]:
    """One batch operator call: every key answered, every answer right."""
    family = {"hll_distinct": "hll", "kll_quantiles": "kll",
              "cms_heavy_hitters": "cms"}.get(op, "hll")
    errs, seen, misses = [], set(), Misses(family)
    for r in rows:
        k = tuple(r[c] for c in keys)
        e = exact.get(k)
        if e is None:
            errs.append(f"{op}: answer for unknown key {k}")
            continue
        seen.add(k)
        what = f"{op} {r.asDict()}"
        if op == "hll_distinct":
            if r["rows_seen"] != e["n"]:
                errs.append(f"{what}: rows_seen != {e['n']}")
            _judge(hll_miss(r["approx_distinct"], e["distinct"]),
                   what, errs, misses)
        elif op == "kll_quantiles":
            if r["n"] != e["n"]:
                errs.append(f"{what}: n != {e['n']}")
            for q, c in zip(QS, QCOLS):
                _judge(kll_miss(e["values"], r[c], q), what, errs, misses)
        elif op == "welford_stats":
            if not (r["n"] == e["n"] and close(r["avg"], e["avg"])
                    and close(r["sd"], e["sd"])):
                errs.append(f"{what}: exact stats are {e['n']}, {e['avg']}, "
                            f"{e['sd']}")
        elif op == "cms_heavy_hitters":
            # CMS never undercounts, and overcounts by more than eps * N
            # only with probability delta
            c = items.get((k, r["item"]), 0)
            if not (c > 0 and r["total_count"] == e["n"]
                    and r["est_count"] >= c):
                errs.append(f"{what}: exact count {c} of {e['n']}")
            over = r["est_count"] - c
            misses.add(f"{what}: over by {over}"
                       if over > math.floor(cms_eps * e["n"]) + 1 else None)
        else:
            raise ValueError(op)
    return errs + misses.errors() + _coverage(op, seen, exact)


def _prefix_keys(exact: dict, k: int) -> set:
    return {v for kk, v in exact if kk == k}


def check_prefix_hll(rows, exact: dict, k: int, key: str) -> list[str]:
    """SketchTable HLL estimates after ``k`` segments."""
    errs, seen, misses = [], set(), Misses("hll")
    for r in rows:
        e = exact.get((k, r[key]))
        seen.add(r[key])
        what = f"table hll after {k} segments {r.asDict()}"
        if e is None or r["rows_seen"] != e["n"]:
            errs.append(f"{what}: wrong key or row count")
            continue
        _judge(hll_miss(r["approx_distinct"], e["distinct"]), what, errs,
               misses)
    return (errs + misses.errors()
            + _coverage("table hll", seen, _prefix_keys(exact, k)))


def check_prefix_kll(rows, exact: dict, k: int, key: str) -> list[str]:
    """SketchTable KLL estimates after ``k`` segments."""
    errs, seen, misses = [], set(), Misses("kll")
    for r in rows:
        e = exact.get((k, r[key]))
        seen.add(r[key])
        what = f"table kll after {k} segments {r.asDict()}"
        if e is None or r["n"] != e["n"]:
            errs.append(f"{what}: wrong key or row count")
            continue
        for q, c in zip(QS, QCOLS):
            _judge(kll_miss(e["values"], r[c], q), what, errs, misses)
    return (errs + misses.errors()
            + _coverage("table kll", seen, _prefix_keys(exact, k)))


def check_one_shot(rows, one_shot: dict, k: int) -> list[str]:
    """The store's contract: its HLL estimates equal a one-shot
    ``hll_distinct`` over the same rows exactly, before and after
    ``compact()``.  Checked at the prefixes ``one_shot`` holds."""
    if not any(kk == k for kk, _ in one_shot):
        return []
    errs = [f"table hll after {k} segments: {r['approx_distinct']} != "
            f"one-shot {one_shot.get((k, r['lang']))} for {r['lang']}"
            for r in rows
            if r["approx_distinct"] != one_shot.get((k, r["lang"]))]
    langs = {v for kk, v in one_shot if kk == k}
    return errs + _coverage("table hll vs one-shot",
                            {r["lang"] for r in rows}, langs)


def check_stateful(rows, exact: dict, k: int) -> list[str]:
    """``streaming_multi_sketch`` rows emitted by epoch ``k - 1``: each
    updated host's running answers cover exactly the first ``k``
    segments."""
    errs, hll, kll = [], Misses("hll"), Misses("kll")
    for r in rows:
        e = exact.get((k, r["host"]))
        what = f"stateful after {k} segments {r.asDict()}"
        if e is None or r["n_seen"] != e["n"] or r["batches"] > k:
            errs.append(f"{what}: wrong key, row count or batch count")
            continue
        _judge(hll_miss(r["approx_distinct"], e["distinct"]), what, errs, hll)
        _judge(kll_miss(e["values"], r["q50"], 0.5), what, errs, kll)
    if not rows:
        errs.append(f"stateful after {k} segments: no updated answers")
    return errs + hll.errors() + kll.errors()
