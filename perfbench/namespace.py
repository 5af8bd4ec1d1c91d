"""Seeded, pure-Python HDFS namespace generator (no Spark).

Each namespace is a list of raw inode dicts in the shape
``hfsa_spark.extract.fsimage_writer.write_fsimage`` encodes, plus the
generator's own record of what it built, which the answer checks use as
the reference:

* owners are skewed (Zipf-like weights over USERS, so a few users own most
  files); groups follow the owner;
* file sizes sit on and either side of the size-bucket borders
  (0, 1 MiB, 2 MiB, 4 MiB, ...) and the 2 MiB small-file limit, with a
  log-uniform tail up to several 128 MiB blocks;
* every file lives below a top-level directory: no file in ``/``, so each
  top-level directory is one ``top_dir`` partition;
* directory depth is set per namespace (``depth``), so the path
  materialization runs that many levels.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

ROOT_ID = 16385
BLOCK_SIZE = 128 << 20
MIB = 1 << 20
SMALL_LIMIT = 2 * MIB
NOW_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z, fixed so ages are seed-only
DAY_MS = 86_400_000
USERS = [f"u{i:02d}" for i in range(12)]
GROUPS = ["hadoop", "analytics", "ml", "ops"]
TOP_DIRS = ["apps", "data", "home", "logs", "tmp", "warehouse"]

# on, just below and just above every bucket border up to 64 MiB
BORDER_SIZES = [0, 1, MIB - 1, MIB, MIB + 1, SMALL_LIMIT - 1, SMALL_LIMIT,
                SMALL_LIMIT + 1] + [
    (SMALL_LIMIT << k) + d for k in range(1, 6) for d in (-1, 0, 1)]


@dataclass
class Namespace:
    rows: list[dict]
    # reference record, kept apart from anything the program computes
    paths: dict[int, tuple[str, int]] = field(default_factory=dict)  # id -> (full_path, depth)

    def files(self) -> list[dict]:
        return [r for r in self.rows if r["type"] == "FILE"]


def file_size(r: dict) -> int:
    return sum(b[2] for b in r["blocks"])


def _blocks(size: int, first_id: int) -> list[tuple[int, int, int]]:
    out, left = [], size
    while left > 0:
        nb = min(BLOCK_SIZE, left)
        out.append((first_id + len(out), 1001, nb))
        left -= nb
    return out


def _size(rng: random.Random) -> int:
    if rng.random() < 0.45:
        return rng.choice(BORDER_SIZES)
    return int(2 ** rng.uniform(10, 30.5))  # 1 KiB .. ~1.4 GiB


def generate(seed: int, n_files: int, depth: int) -> Namespace:
    """``n_files`` files spread over a tree that is exactly ``depth``
    directory levels deep below ``/`` (files sit one level further down)."""
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) ** 1.3 for i in range(len(USERS))]
    next_id = ROOT_ID + 1
    next_block = 1 << 30
    ns = Namespace(rows=[])
    ns.rows.append(dict(
        id=ROOT_ID, parent_id=None, name="", type="DIRECTORY", user="hdfs",
        group="supergroup", mode=0o755, mtime=NOW_MS - 900 * DAY_MS, atime=0,
        replication=0, preferred_block_size=0, storage_policy_id=0,
        ec_policy_id=0, ns_quota=-1, ds_quota=-1, symlink_target=None,
        blocks=[]))
    ns.paths[ROOT_ID] = ("/", 0)

    def add(parent: int, name: str, kind: str, owner: int) -> int:
        nonlocal next_id
        nid = next_id
        next_id += 1
        ppath, pdepth = ns.paths[parent]
        full = (ppath.rstrip("/") + "/" + name)
        ns.paths[nid] = (full, pdepth + 1)
        ns.rows.append(dict(
            id=nid, parent_id=parent, name=name, type=kind, user=USERS[owner],
            group=GROUPS[owner % len(GROUPS)],
            mode=0o755 if kind == "DIRECTORY" else 0o644,
            mtime=NOW_MS - rng.randrange(1, 730) * DAY_MS - rng.randrange(DAY_MS),
            atime=0, replication=0, preferred_block_size=0,
            storage_policy_id=0, ec_policy_id=0, ns_quota=-1, ds_quota=-1,
            symlink_target=None, blocks=[]))
        return nid

    # directory skeleton: one chain of `depth` levels under every top dir
    # plus random side branches, so every level has several directories
    dirs: list[int] = []
    for t in TOP_DIRS:
        owner = rng.choices(range(len(USERS)), weights)[0]
        top = add(ROOT_ID, t, "DIRECTORY", owner)
        dirs.append(top)
        frontier = [top]
        for level in range(2, depth + 1):
            nxt = []
            for p in frontier:
                for b in range(rng.randint(1, 3) if len(nxt) < 6 else 1):
                    nxt.append(add(p, f"d{level}_{b}", "DIRECTORY", owner))
            dirs.extend(nxt)
            frontier = nxt

    for i in range(n_files):
        parent = rng.choice(dirs)
        owner = rng.choices(range(len(USERS)), weights)[0]
        add(parent, f"f{i}.dat", "FILE", owner)
        r = ns.rows[-1]
        r["replication"] = rng.choice((1, 2, 3, 3))
        r["preferred_block_size"] = BLOCK_SIZE
        r["atime"] = r["mtime"] + rng.randrange(DAY_MS)
        r["blocks"] = _blocks(_size(rng), next_block)
        next_block += len(r["blocks"])
    # a few symlinks, never in '/'
    for i in range(max(1, n_files // 500)):
        add(rng.choice(dirs), f"ln{i}", "SYMLINK", 0)
        ns.rows[-1]["symlink_target"] = f"/data/target{i}"
    return ns
