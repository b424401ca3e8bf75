"""Self-test of the event-log reducer on a small canned log.

    python3 perfbench/selftest.py

Needs no Spark session. The canned log (testdata/eventlog_small.json)
has two tagged job groups, one nested in the other's layer path, and
one untagged job; it covers shuffle bytes, spill, GC, task skew and the
Python-worker bytes sent/returned SQL metrics.
"""

from __future__ import annotations

import os
import sys

from tracing import layer_stats, reduce_event_log

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_small.json")


def main() -> int:
    groups = reduce_event_log(LOG)
    pr = groups["wl:graph.pagerank"]
    expect = {
        "jobs": (pr.jobs, 1),
        "tasks": (pr.tasks, 4),
        "shuffle_write_bytes": (pr.shuffle_write_bytes, 600),
        "spill_bytes": (pr.spill_bytes, 1024),
        "gc_ms": (pr.gc_ms, 15),
        "python_bytes_sent": (pr.python_bytes_sent, 4096),
        "python_bytes_returned": (pr.python_bytes_returned, 2048),
        "max_task_skew": (pr.max_task_skew, 3.0),
        "untagged jobs": (groups[""].jobs, 1),
    }
    # inclusive: pagerank called from the rescore counts for both layers
    inc = layer_stats(groups, "wl", "graph.pagerank")
    expect["inclusive jobs"] = (inc.jobs, 2)
    expect["inclusive python bytes"] = (inc.python_bytes_sent, 4196)
    expect["inclusive skew"] = (inc.max_task_skew, 3.0)
    resc = layer_stats(groups, "wl", "api.rescore")
    expect["nested jobs"] = (resc.jobs, 1)
    expect["nested skew"] = (resc.max_task_skew, 1.0)
    expect["other workload"] = (layer_stats(groups, "other", "graph.pagerank").jobs, 0)
    bad = {k: v for k, v in expect.items() if v[0] != v[1]}
    for k, (got, want) in bad.items():
        print(f"FAIL {k}: got {got}, want {want}")
    print("selftest:", "ok" if not bad else f"{len(bad)} failed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
