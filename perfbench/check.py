"""Result comparison and host-noise readers shared by the benchmark's
parent and session processes.

``canon`` follows the comparison semantics of the repository's oracle
tests: column names compared case-insensitively as a set, columns sorted
by name, rows sorted, floats at full precision (``repr``), NULL and NaN
as one marker, timestamps in ISO form.
"""

from __future__ import annotations

import math
import os


def canon(df) -> dict:
    """Order-insensitive canonical form of a pandas DataFrame."""
    df = df.copy()
    df.columns = [str(c).lower() for c in df.columns]
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False, name=None):
        out = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                out.append("<NULL>")
            elif isinstance(v, float):
                out.append(repr(v))
            elif hasattr(v, "isoformat"):
                out.append(v.isoformat())
            else:
                out.append(str(v))
        rows.append(out)
    rows.sort()
    return {"columns": list(df.columns), "rows": rows}


def compare(got: dict, want: dict) -> str | None:
    """None when equal, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"row count {len(got['rows'])} != {len(want['rows'])}"
    for g, w in zip(got["rows"], want["rows"]):
        if g != w:
            return f"first differing row {g} != {w}"
    return None


# --- host noise --------------------------------------------------------


def cpu_pressure() -> dict:
    """``/proc/pressure/cpu`` "some" line: avg10/60/300 (%) and total (us)."""
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    return {k: float(v) for k, v in
                            (f.split("=") for f in line.split()[1:])}
    except OSError:
        pass
    return {}


def cpu_ticks() -> dict:
    """Aggregate ``/proc/stat`` cpu line: total and steal ticks."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return {"total": sum(vals[:8]), "steal": vals[7] if len(vals) > 7 else 0}


def host_snapshot() -> dict:
    return {"pressure": cpu_pressure(), "ticks": cpu_ticks()}


def host_noise(before: dict, after: dict, wall_s: float) -> dict:
    """Noise over one run: steal share of all cpu ticks, cpu "some"
    pressure share of wall time, and the kernel's avg300 reading."""
    dt = after["ticks"]["total"] - before["ticks"]["total"]
    steal = after["ticks"]["steal"] - before["ticks"]["steal"]
    pb, pa = before["pressure"], after["pressure"]
    out = {
        "nproc": os.cpu_count(),
        "steal_pct": round(100.0 * steal / dt, 2) if dt > 0 else 0.0,
    }
    if "total" in pb and "total" in pa and wall_s > 0:
        out["cpu_some_pressure_pct"] = round(
            (pa["total"] - pb["total"]) / 1e4 / wall_s, 2)
        out["cpu_some_avg300"] = pa.get("avg300")
    return out


# --- process-tree accounting -------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:
                parent[int(pid)] = int(f[1])
    out, frontier = [root], [root]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        out += nxt
        frontier = nxt
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root``'s process tree: own user+system time of
    every live process plus the reaped children each has waited for."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(str(pid))
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of one process, in MB (0 when it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
