"""HTTP error-handling policy — `--error-handling '1xx=retry,4xx=abort,…'`.

The reference maps status-code classes to actions in `httpReact`
(xidelbase.pas:2241-2249): retry (sleep + refetch), ignore (empty body,
keep processing), skip (drop the document), abort. Per-request overrides
come from follow-object options (tests/tests.sh:128-129).

Spark form: the policy is a tiny table → CASE expression over the fetch
result's status column."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

VALID_ACTIONS = {"retry", "ignore", "skip", "abort", "accept"}


def parse_policy(spec: str) -> dict[str, str]:
    """'1xx=retry,4xx=abort,5xx=skip' → {'1xx': 'retry', ...}.
    Keys: exact codes ('404') or classes ('4xx'). 2xx defaults to accept."""
    out: dict[str, str] = {}
    for part in filter(None, (p.strip() for p in spec.split(","))):
        k, _, v = part.partition("=")
        if v not in VALID_ACTIONS:
            raise ValueError(f"unknown error action {v!r} in {spec!r}")
        out[k.strip()] = v
    return out


def action_for(status: Column, policy: dict[str, str]) -> Column:
    """CASE expression: exact code match wins over class match; default
    accept for 2xx, skip otherwise (the reference treats unhandled errors
    as fatal per phase; we default to the safe drop)."""
    expr = None
    # exact codes first (higher precedence)
    for k, v in sorted(policy.items(), key=lambda kv: (len(kv[0]) != 3 or "x" in kv[0], kv[0])):
        if "x" in k:
            cls = int(k[0])
            cond = (status >= cls * 100) & (status < (cls + 1) * 100)
        else:
            cond = status == int(k)
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    default = F.when((status >= 200) & (status < 300), "accept").otherwise("skip")
    return expr.otherwise(default) if expr is not None else default
