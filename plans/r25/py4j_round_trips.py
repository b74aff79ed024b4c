"""Main-thread py4j round trips per registered query: building the
DataFrame, then ``count()``, in one ``get_spark`` session.

    python3 plans/r25/py4j_round_trips.py run <checkout root> <sf dir>
    python3 plans/r25/py4j_round_trips.py compare <parent table> <change table>

``run`` imports the package from ``<checkout root>``, wraps py4j's
``ClientServerConnection.send_command`` and counts the commands the
main thread sends (one command is one round trip to the JVM; commands
from the worker-pool boot thread and from stream threads are not
counted). Each query runs once at ``<sf dir>`` (the census used
sf0.01) with result memos cleared first, as a bench rep does; plan
memos (scan plans) stay warm after the first query that loads a
table. It prints one ``name build count`` line per query (``ERR`` for
a query that raised), the totals, and the 15 largest talkers: the
first Python frame outside py4j that sent commands, with its share of
all of them.

``compare`` joins two ``run`` tables by query name and prints the
per-query build totals side by side with the 20 largest drops.
"""

from __future__ import annotations

import os
import sys
import threading
from collections import Counter


def _sender() -> str:
    """``file:function`` of the first frame above py4j."""
    frame = sys._getframe(2)
    while frame is not None and f"{os.sep}py4j{os.sep}" in frame.f_code.co_filename:
        frame = frame.f_back
    if frame is None:
        return "?"
    path = frame.f_code.co_filename
    tail = path.split(f"site-packages{os.sep}", 1)[-1]
    return f"{tail}:{frame.f_code.co_name}"


def run(root: str, sf_dir: str) -> None:
    root = os.path.abspath(root)
    os.chdir(root)
    sys.path.insert(0, root)
    from py4j.clientserver import ClientServerConnection

    from mapreduce_rust_spark import memo, registry
    from mapreduce_rust_spark.session import get_spark

    sent = [0]
    talkers: Counter = Counter()
    main = threading.main_thread()
    send = ClientServerConnection.send_command

    def counted(self, command):
        if threading.current_thread() is main:
            sent[0] += 1
            talkers[_sender()] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    spark = get_spark("py4j-round-trips")
    qs = registry.queries()
    build_sum = count_sum = errors = 0
    print("query build count", flush=True)
    for name, fn in qs.items():
        memo.clear_results()
        before = sent[0]
        try:
            df = fn(spark, sf_dir)
            built = sent[0]
            df.count()
        except Exception as exc:  # noqa: BLE001 — one bad query must not end the census
            errors += 1
            print(name, "ERR", type(exc).__name__, flush=True)
            continue
        build, count = built - before, sent[0] - built
        build_sum += build
        count_sum += count
        print(name, build, count, flush=True)
    total = sum(talkers.values())
    print(f"TOTAL queries {len(qs)} errors {errors} build {build_sum} "
          f"count {count_sum}")
    print("talkers (all main-thread commands, session start included):")
    for who, n in talkers.most_common(15):
        print(f"  {n:8d} {n / total:6.1%} {who}")
    spark.stop()


def _table(path: str) -> dict[str, tuple[int, int]]:
    rows = {}
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) == 3 and parts[1].isdigit() and parts[2].isdigit():
                rows[parts[0]] = (int(parts[1]), int(parts[2]))
    return rows


def compare(parent: str, change: str) -> None:
    p, c = _table(parent), _table(change)
    both = sorted(set(p) & set(c))
    for label, i in (("build", 0), ("count", 1)):
        a, b = sum(p[n][i] for n in both), sum(c[n][i] for n in both)
        print(f"{label}: parent {a} -> change {b} over {len(both)} queries "
              f"({b / a:.2f}x)")
    drops = sorted(both, key=lambda n: c[n][0] - p[n][0])[:20]
    print("largest build drops: query parent change")
    for n in drops:
        print(f"  {n} {p[n][0]} {c[n][0]}")
    only = sorted(set(p) ^ set(c))
    if only:
        print("in one table only:", " ".join(only))


if __name__ == "__main__":
    if sys.argv[1] == "run":
        run(sys.argv[2], sys.argv[3])
    else:
        compare(sys.argv[2], sys.argv[3])
