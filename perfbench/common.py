"""Inputs and measurements shared by the workloads: the generated tables,
the cache of DuckDB oracle answers, percentiles and peak RSS."""

from __future__ import annotations

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")


def data_dir(sf: float) -> str:
    """Tables at scale `sf`, generated once per checkout; row counts are
    checked on every run."""
    import pyarrow.parquet as pq

    import gen_data

    d = os.path.join(CACHE, "data", f"sf{sf}")
    if not os.path.isdir(d):
        part = d + f".part{os.getpid()}"
        gen_data.generate(part, sf)
        os.replace(part, d)
    for table, rows in gen_data.row_counts(sf).items():
        got = pq.ParquetFile(os.path.join(d, f"{table}.parquet")) \
            .metadata.num_rows
        if got != rows:
            raise SystemExit(f"{d}/{table}.parquet has {got} rows, "
                             f"expected {rows}: delete {d} to regenerate")
    return d


def data_digest(d: str) -> str:
    h = hashlib.sha256()
    for fn in sorted(os.listdir(d)):
        h.update(fn.encode())
        with open(os.path.join(d, fn), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class OracleCache:
    """DuckDB answers, normalized, keyed by data digest and SQL text, kept
    in one JSON file per data directory so later runs skip the work."""

    def __init__(self, sf_dir: str, digest: str) -> None:
        self.sf_dir = sf_dir
        self.path = os.path.join(
            CACHE, f"oracle-{os.path.basename(sf_dir)}-{digest}.json")
        self.entries: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.entries = json.load(f)
        self._con = None
        self.dirty = False

    def answer(self, sql: str) -> dict:
        """{"columns": [...], "rows": [repr of normalized row, ...]} or
        {"error": "..."} when DuckDB rejects the SQL."""
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self.entries:
            from wvlet_spark.oracle import duckdb_connect

            if self._con is None:
                self._con = duckdb_connect(self.sf_dir)
                # one thread: parallel aggregation sums doubles in an order
                # that varies from run to run, which moves the 10th
                # significant digit normalize_rows keeps
                self._con.execute("SET threads TO 1")
                self._con.execute("SET enable_progress_bar = false")
            try:
                cur = self._con.execute(sql)
                cols = [c[0] for c in cur.description]
                self.entries[key] = {
                    "columns": sorted(cols),
                    "rows": normalized(cols, cur.fetchall())}
            except Exception as ex:  # DuckDB's error classes vary
                self.entries[key] = {
                    "error": f"{type(ex).__name__}: {str(ex)[:200]}"}
            self.dirty = True
        return self.entries[key]

    def save(self) -> None:
        if self.dirty:
            tmp = f"{self.path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.entries, f)
            os.replace(tmp, self.path)
            self.dirty = False
        if self._con is not None:
            self._con.close()
            self._con = None


def normalized(columns: list[str], rows) -> list[str]:
    from wvlet_spark.oracle import normalize_rows

    return [repr(r) for r in normalize_rows(list(columns), rows)]


def percentile_tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest nearest-rank percentile with at
    least ten samples above it."""
    s = sorted(values)
    k = max(1, len(s) - 10)
    return 100.0 * k / len(s), s[k - 1]


def rss_hwm_mb(pids: list[int]) -> float:
    """Summed kernel high-water RSS (VmHWM) of `pids` and their live
    descendants, in MB."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    seen: set[int] = set()
    todo = list(pids)
    total_kb = 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
