"""The benchmark's workloads: set-up, op kinds and answer checks.

A workload's ``setup`` generates its inputs from the seed, writes them
under ``work`` and returns its ops. Every op is a closed-loop call into the
program's public functions; its ``check`` compares the result with an
answer computed apart from the program (the generator's record, plain
Python aggregates, or the query's DuckDB ``oracle_sql()``) and returns an
error string, or ``None`` when the answer is right.
"""

from __future__ import annotations

import csv
import io
import json
import math
import os
import random
import re
from collections import Counter, defaultdict
from dataclasses import dataclass
from typing import Any, Callable

import namespace as nsgen
import tables as tablegen
from tracing import Tracer

MIB = 1 << 20


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]


# ------------------------------------------------------------ namespace --

# Sized so that one run fits the run budget (README.md, "Choices forced
# by the run budget").
NS_FILES = 4_000
NS_DEPTH = 4
PATH_DIR = "/apps"
PATH_REGEX = "u0[0-2]"


def setup_namespace(spark, seed: int, work: str, tracer: Tracer) -> list[Op]:
    """Each pass loads the gzip image on the driver route and writes the
    ``inodes`` table; the report ops of the same pass read that table."""
    from hfsa_spark import FsImageAnalytics
    from hfsa_spark.extract.fsimage import load_fsimage
    from hfsa_spark.extract.fsimage_writer import write_fsimage
    from hfsa_spark.extract.pathmat import write_inodes
    from hfsa_spark.operators.inodeinfo import inode_info
    from hfsa_spark.operators.pathreport import path_report
    from hfsa_spark.operators.smallfiles import small_files_report
    from hfsa_spark.operators.summary import summary_report
    from hfsa_spark.sinks import path_report_csv, small_files_json, summary_txt

    write = tracer.timed("extract.write_s", write_inodes)
    sink = {f.__name__: tracer.timed("sinks.format_s", f, less_dataframe_calls=True)
            for f in (summary_txt, small_files_json, path_report_csv)}

    rep_ns = nsgen.generate(seed, NS_FILES, depth=NS_DEPTH)
    image = os.path.join(work, "fsimage.img")
    write_fsimage(image, rep_ns.rows, codec="gzip")
    tables = []

    def load_op():
        out = os.path.join(work, f"inodes_{len(tables)}")
        write(load_fsimage(spark, image, distributed=False), out)
        tables.append(out)
        return out

    def inodes():
        return spark.read.parquet(tables[-1])

    ref = _NsReference(rep_ns)
    rng = random.Random(seed)
    info_id = rng.choice(ref.files)["id"]
    info_path = ref.path_of[rng.choice(ref.files)["id"]]
    api_path = ref.path_of[rng.choice(ref.files)["id"]]
    api_dir = f"/{rng.choice(nsgen.TOP_DIRS)}"

    def summary_op():
        return sink["summary_txt"](summary_report(inodes(), dir="/"))

    def small_files_op():
        rep = small_files_report(inodes(), dir="/", persist=True)
        try:
            return sink["small_files_json"](rep), tracer.own_action(rep.path_hotspots.collect)
        finally:
            rep.unpersist()

    def path_op():
        rep = path_report(inodes(), dirs=[PATH_DIR], user_filter=PATH_REGEX)
        return sink["path_report_csv"](rep.listing)

    def info_op():
        return [r.asDict() for r in
                tracer.own_action(inode_info(inodes(), [info_id, info_path]).collect)]

    def lookup_op():
        fa = FsImageAnalytics(inodes())
        by_path, children = (tracer.timed("api.lookup_s", f, less_dataframe_calls=True)
                             for f in (fa.inode_by_path, fa.num_children))
        rows = tracer.own_action(by_path(api_path).collect)
        return [r.asDict() for r in rows], children(api_dir)

    return [
        Op("load.driver_gzip", load_op, lambda out: _check_load(out, rep_ns)),
        Op("report.summary", summary_op, lambda t: ref.check_summary(t, "/")),
        Op("report.small_files", small_files_op, ref.check_small_files),
        Op("report.path_csv", path_op, ref.check_path_csv),
        Op("report.inode_info", info_op,
           lambda rows: ref.check_inode_info(rows, info_id, info_path)),
        Op("api.lookup", lookup_op, lambda res: ref.check_lookup(res, api_path, api_dir)),
    ]


def _check_load(out: str, ns: nsgen.Namespace) -> str | None:
    """The written ``inodes`` table against the generator's record."""
    import pyarrow.parquet as pq

    t = pq.read_table(out, columns=["id", "full_path", "depth", "type", "file_size",
                                    "consumed_size", "num_blocks"]).to_pydict()
    got_types = Counter(t["type"])
    want_types = Counter(r["type"] for r in ns.rows)
    if got_types != want_types:
        return f"type counts {dict(got_types)} != {dict(want_types)}"
    files = ns.files()
    want = (sum(map(nsgen.file_size, files)),
            sum(nsgen.file_size(r) * r["replication"] for r in files),
            sum(len(r["blocks"]) for r in files))
    got = (sum(t["file_size"]), sum(t["consumed_size"]), sum(t["num_blocks"]))
    if got != want:
        return f"(bytes, consumed, blocks) {got} != {want}"
    got_paths = set(zip(t["id"], t["full_path"], t["depth"]))
    want_paths = {(i, p, d) for i, (p, d) in ns.paths.items()}
    if got_paths != want_paths:
        return f"{len(got_paths ^ want_paths)} (id, full_path, depth) triples differ"
    return None


def _bucket(size: int) -> int:
    """Size bucket of the reference tool: 0, (0,1MiB), [1,2)MiB, then doubling."""
    if size <= 0:
        return 0
    if size < MIB:
        return 1
    return (size // (2 * MIB)).bit_length() + 2


def _in_subtree(path: str, d: str) -> bool:
    return d == "/" or path == d or path.startswith(d + "/")


def _ancestors(d: str) -> list[str]:
    """'/a/b' -> ['/', '/a', '/a/b']"""
    parts = [p for p in d.split("/") if p]
    return ["/"] + ["/" + "/".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _rwx(mode: int) -> str:
    return "".join(c if mode & (1 << (8 - i)) else "-" for i, c in enumerate("rwxrwxrwx"))


class _NsReference:
    """Plain-Python answers over the generator's record."""

    def __init__(self, ns: nsgen.Namespace):
        self.rows = ns.rows
        self.path_of = {i: p for i, (p, _) in ns.paths.items()}
        self.files = ns.files()
        self.by_id = {r["id"]: r for r in ns.rows}

    def parent_path(self, r: dict) -> str:
        return self.path_of[r["parent_id"]]

    def _stats(self, rows: list[dict]) -> list[int]:
        files = [r for r in rows if r["type"] == "FILE"]
        buckets = Counter(_bucket(nsgen.file_size(r)) for r in files)
        return [
            sum(r["type"] == "DIRECTORY" for r in rows),
            sum(r["type"] == "SYMLINK" for r in rows),
            len(files),
            sum(map(nsgen.file_size, files)) // MIB,
            sum(nsgen.file_size(r) * r["replication"] for r in files) // MIB,
            sum(len(r["blocks"]) for r in files),
        ] + [buckets.get(i, 0) for i in range(max(buckets, default=0) + 1)]

    def check_summary(self, text: str, d: str) -> str | None:
        scoped = [r for r in self.rows if _in_subtree(self.path_of[r["id"]], d)]
        lines = text.splitlines()
        i = next(k for k, ln in enumerate(lines) if ln.startswith("#Groups")) + 3
        nums = [int(x) for x in lines[i].replace("|", " ").split()]
        want = [len({r["group"] for r in scoped}), len({r["user"] for r in scoped})]
        want += self._stats(scoped)
        if nums[:len(want)] != want or any(nums[len(want):]):
            return f"summary {d} overall {nums} != {want}"
        start = next(k for k, ln in enumerate(lines) if ln.startswith("By user:")) + 3
        by_user = {}
        for ln in lines[start:]:
            if ln.strip():
                name, rest = ln.split("|", 1)
                by_user[name.strip()] = [int(x) for x in rest.replace("|", " ").split()]
        users = {r["user"] for r in scoped}
        if set(by_user) != users:
            return f"summary {d} users {sorted(by_user)} != {sorted(users)}"
        for u, got in by_user.items():
            w = self._stats([r for r in scoped if r["user"] == u])
            if got[:len(w)] != w or any(got[len(w):]):
                return f"summary {d} user {u} {got} != {w}"
        if sum(v[2] for v in by_user.values()) != nums[4]:
            return f"summary {d}: user file rows do not sum to the overall row"
        return None

    def check_small_files(self, res) -> str | None:
        text, hotspots = res
        small = [r for r in self.files if nsgen.file_size(r) < nsgen.SMALL_LIMIT]
        per_user = defaultdict(Counter)
        for r in small:
            per_user[r["user"]][self.parent_path(r)] += 1
        got = json.loads(text)
        want = {
            "sumOverallSmallFiles": len(small),
            "sumUserSmallFiles": len(small),
            "userToReport": {u: {"userName": u, "sumSmallFiles": sum(c.values()),
                                 "pathToCounter": dict(c)} for u, c in per_user.items()},
        }
        if got != want:
            return "small-files json differs from the plain-Python counts"
        rolled = Counter()
        for r in small:
            for a in _ancestors(self.parent_path(r)):
                rolled[a] += 1
        top = sorted(rolled.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        got_top = [(h["path"], h["count"]) for h in hotspots]
        if got_top != top:
            return f"small-files hotspots {got_top} != {top}"
        counts = dict(got_top)
        for p, c in got_top:
            for a in _ancestors(p)[:-1]:
                if a in counts and counts[a] < c:
                    return f"rollup of {a} is below its descendant {p}"
        return None

    def check_path_csv(self, text: str) -> str | None:
        rx = re.compile(f"^(?:{PATH_REGEX})$")
        kind = {"FILE": "-", "DIRECTORY": "d", "SYMLINK": "l"}
        want = sorted(
            [self.path_of[r["id"]], kind[r["type"]], f"{r['user']}:{r['group']}:{_rwx(r['mode'])}"]
            for r in self.rows
            if _in_subtree(self.path_of[r["id"]], PATH_DIR) and rx.match(r["user"]))
        got = list(csv.reader(io.StringIO(text)))
        if got[0] != ["Path", "Type", "Permission"] or got[1:] != want:
            return f"path csv: {len(got) - 1} rows, want {len(want)}"
        return None

    def _row_ok(self, row: dict) -> bool:
        r = self.by_id.get(row["id"])
        return (r is not None and row["full_path"] == self.path_of[r["id"]]
                and row["name"] == r["name"] and row["type"] == r["type"]
                and row["user"] == r["user"] and row["mtime"] == r["mtime"]
                and row["file_size"] == nsgen.file_size(r))

    def check_inode_info(self, rows: list[dict], iid: int, path: str) -> str | None:
        want = {str(iid), path}
        if {r["ref"] for r in rows} != want or len(rows) != len(want):
            return f"inode_info refs {[r['ref'] for r in rows]} != {sorted(want)}"
        if not all(map(self._row_ok, rows)):
            return "inode_info row differs from the generator's record"
        return None

    def check_lookup(self, res, path: str, d: str) -> str | None:
        rows, n = res
        if len(rows) != 1 or rows[0]["full_path"] != path or not self._row_ok(rows[0]):
            return f"inode_by_path({path}) returned {len(rows)} rows or a wrong row"
        did = next(i for i, p in self.path_of.items() if p == d)
        want = sum(1 for r in self.rows if r["parent_id"] == did)
        if n != want:
            return f"num_children({d}) {n} != {want}"
        return None


# --------------------------------------------------------------- engine --

# The row counts of the sf0.1 test tables.
ENGINE_DOCS = 5_000
ENGINE_ORDERS = 150_000
CURATION = ["q176_setsim_join"]
GATES = ["q212_streaming_cdc_bucketed"]


def setup_engine(spark, seed: int, work: str, tracer: Tracer,
                 tables: str | None = None) -> list[Op]:
    """``tables``, when given, is a directory of parquet tables to read
    instead of the generated ones."""
    import duckdb

    import __spark_entry__ as entry

    if tables is None:
        data = os.path.join(work, "tables")
        paths = tablegen.write_tables(data, seed, ENGINE_DOCS, ENGINE_ORDERS)
    else:
        data = tables
        paths = {t: os.path.join(tables, f"{t}.parquet") for t in ("documents", "orders")}
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for name, path in paths.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    ops = []
    for kind, names in (("curation", CURATION), ("gate", GATES)):
        for name in names:
            want = con.sql(oracles[name]).df()
            if len(want) == 0:
                raise RuntimeError(f"{name}: the oracle answer is empty")
            fn = queries[name]
            ops.append(Op(
                f"{kind}.{name.split('_')[0]}",
                lambda fn=fn: tracer.own_action(fn(spark, data).toPandas),
                lambda got, want=want: _compare(got, want)))
    con.close()
    return ops


def _normalize(df):
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _compare(got, want) -> str | None:
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = _normalize(got.copy()), _normalize(want.copy())
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            same = all((math.isnan(p) and math.isnan(q)) or p == q
                       for p, q in zip(x.astype(float), y.astype(float)))
        else:
            same = x.astype(str).equals(y.astype(str))
        if not same:
            return f"column {c} differs from the DuckDB oracle"
    return None


WORKLOADS = {"fsimage_reports": setup_namespace, "curation_gates": setup_engine}
