"""Capture tests/reference_goldens.json, the pinned outputs behind the
always-running twins of the executed-reference parity tests
(tests/test_reference_goldens.py).

Re-run only on an engine version that passes
tests/test_reference_parity.py against the reference implementation,
and pass the commit it was captured at so the file records it.

Usage: python tools/gen_reference_goldens.py <commit>
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    commit = sys.argv[1] if len(sys.argv) > 1 else "unknown"
    from certa_spark.session import get_spark
    from tests.test_reference_goldens import (
        EXPLAIN_FIXTURES,
        GOLDEN_PATH,
        explain_snapshot,
        metrics_snapshot,
    )

    spark = get_spark(app_name="gen-reference-goldens", master="local[4]",
                      shuffle_partitions=4)
    out = {
        "provenance": {
            "commit": commit,
            "command": f"python tools/gen_reference_goldens.py {commit}",
            "note": "engine outputs at the commit whose engine passed the "
                    "executed-reference tests in tests/test_reference_parity.py",
        },
        "explain": {
            name: explain_snapshot(spark, *fixture())
            for name, fixture in sorted(EXPLAIN_FIXTURES.items())
        },
        "metrics": metrics_snapshot(spark),
    }
    with open(GOLDEN_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
