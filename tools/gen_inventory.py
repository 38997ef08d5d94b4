"""Generate QUERIES.md — the registry inventory (one row per oracle-paired
query) so SURVEY §2 coverage can be checked line by line. Run:

    python tools/gen_inventory.py        # writes QUERIES.md in place

Regenerate this file whenever a query is registered, renamed or removed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from postgresql_cdc_spark.plans import QUERIES  # noqa: E402


def module_of(q) -> str:
    fn = q.spark
    while hasattr(fn, "__wrapped__"):
        fn = fn.__wrapped__
    mod = getattr(fn, "__module__", "?")
    return mod.rsplit(".", 1)[-1]


def main() -> int:
    lines = [
        "# Query inventory",
        "",
        f"{len(QUERIES)} oracle-paired queries, in registration order. Every "
        "entry pairs a Spark DataFrame builder with an ANSI-SQL DuckDB twin; "
        "the gate hash-compares values.",
        "",
        "| # | query | module | what it verifies |",
        "|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(QUERIES.items(), 1):
        doc = " ".join((q.doc or "").split())
        lines.append(f"| {i} | `{name}` | {module_of(q)} | {doc} |")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "QUERIES.md")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    sys.stderr.write(f"wrote {path}\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
