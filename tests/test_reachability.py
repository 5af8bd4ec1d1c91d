"""Guard against dead library code: every top-level ``hfsa_spark`` function
and class must be reachable from something that runs.

The roots are the query entry points (``__spark_entry__.py``), ``bench.py``,
``perfbench/``, the hfsa CLI and API, the ``extract`` and ``functions``
package surface, and the two correctness scripts. From them a static ``ast``
walk follows names through imports, re-exports and attribute chains. A
definition that the walk never reaches is reported by name, unless
``KEEP`` lists it with the reason it stays. No Spark session is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path
from typing import NamedTuple

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "hfsa_spark"

ROOT_FILES = (
    "__spark_entry__.py",
    "bench.py",
    "perfbench/*.py",
    "hfsa_spark/cli.py",
    "hfsa_spark/api.py",
    "scripts/check_correctness.py",
    "scripts/plan_audit.py",
)
# The package root's exports, and every public definition of the hfsa
# data-access (extract) and scalar-function layers, are the public surface.
ROOT_EXPORTS = (PACKAGE,)
ROOT_PACKAGES = (f"{PACKAGE}.extract", f"{PACKAGE}.functions")


class Keep(NamedTuple):
    name: str  # "module:definition"
    reason: str


KEEP = (
    # Test helpers: plan-shape asserts, fixture builders and readers.
    Keep("hfsa_spark.plans:explain_str", "plan-shape assert helper"),
    Keep("hfsa_spark.plans:has_pushed_filter", "plan-shape assert helper"),
    Keep("hfsa_spark.plans:read_schema_columns", "plan-shape assert helper"),
    Keep("hfsa_spark.plans:uses_broadcast_join", "plan-shape assert helper"),
    Keep("hfsa_spark.plans:num_exchanges", "plan-shape assert helper"),
    Keep(
        "hfsa_spark.plans:observe_quality",
        "Observation counts at a stage boundary, no extra job",
    ),
    Keep("hfsa_spark.operators.similarity:pq_mse", "judges pq_train"),
    Keep("hfsa_spark.operators.similarity:synthesize_clustered_embeddings", "builds ANN fixtures"),
    Keep("hfsa_spark.operators.jpeg:encode_jpeg12", "builds 12-bit JPEG fixtures"),
    Keep("hfsa_spark.sinks.tfrecord:write_record", "builds TFRecord framing fixtures"),
    Keep(
        "hfsa_spark.streaming.cdc:lookup_bucketed",
        "tests read the bucketed CDC table through it",
    ),
    Keep(
        "hfsa_spark.streaming.drift:read_drift_monitor",
        "tests read the drift gate's sink through it",
    ),
    Keep(
        "hfsa_spark.streaming.snapshots:windowed_event_counts",
        "batch reference for the windowed stream",
    ),
    Keep(
        "hfsa_spark.streaming.snapshots:streaming_windowed_counts_query",
        "tests read the windowed stream through it",
    ),
    # Expression or batch references that tests check a gate's kernel against.
    Keep(
        "hfsa_spark.operators.pca:covariance_arrow",
        "float64 reference for the exact moments path",
    ),
    Keep(
        "hfsa_spark.operators.similarity:quantize_embeddings",
        "double-valued twin of quantize_embeddings_long",
    ),
    Keep(
        "hfsa_spark.operators.text:hashed_linear_score",
        "expression twin of hashed_linear_score_arrow",
    ),
    Keep(
        "hfsa_spark.operators.text:char_entropy_profile",
        "expression twin of char_entropy_profile_arrow",
    ),
    Keep(
        "hfsa_spark.operators.bpe:bpe_train",
        "pinned to the pure-Python BPE reference; q107 runs bpe_train_trace",
    ),
    Keep(
        "hfsa_spark.operators.similarity:pq_train",
        "trains the codebooks pq_encode and ADC consume",
    ),
    Keep(
        "hfsa_spark.operators.similarity:write_ivf_index",
        "builds the IVF index that tests serve with ivf_topk_indexed",
    ),
    # Library operations with their own tests and no gate yet.
    Keep("hfsa_spark.fs:rename", "filesystem shim operation"),
    Keep(
        "hfsa_spark.streaming.cdc:compact_segments",
        "CDC segment compaction (crash-safe commit marker)",
    ),
    Keep("hfsa_spark.streaming.cdc:_compact_segments_once", "one attempt of compact_segments"),
    Keep("hfsa_spark.streaming.cdc:vacuum_segments", "CDC retention of compacted segments"),
    Keep("hfsa_spark.streaming.cdc:vacuum_snapshots", "CDC retention of old snapshots"),
    Keep("hfsa_spark.streaming.stateful:stateful_sessionize", "stateful-operator sessionization"),
    Keep("hfsa_spark.streaming.stateful:stateful_ewma", "stateful-operator EWMA"),
    Keep("hfsa_spark.tables:write_bucketed", "catalog-managed bucketed table"),
    Keep("hfsa_spark.tables:read_table", "reads a catalog-managed bucketed table"),
    Keep("hfsa_spark.tables:_clear_orphaned_location", "used by tables.write_bucketed"),
)


def _module_name(path: Path) -> str:
    rel = path.relative_to(ROOT).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


class _Module:
    def __init__(self, name: str, path: Path):
        self.name = name
        self.is_package = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), filename=str(path))
        self.defs = {
            n.name: n
            for n in self.tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        self.bindings = _import_bindings(self, self.tree.body)


def _absolute(mod: _Module, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod.name.split(".")
    if not mod.is_package:
        base = base[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _import_bindings(mod: _Module, body) -> dict[str, tuple[str, str | None]]:
    """name -> (module, attribute or None) for the imports in ``body``."""
    out: dict[str, tuple[str, str | None]] = {}
    for sub in (s for node in body for s in ast.walk(node)):
        if isinstance(sub, ast.Import):
            for a in sub.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
                else:
                    top = a.name.split(".")[0]
                    out[top] = (top, None)
        elif isinstance(sub, ast.ImportFrom):
            src = _absolute(mod, sub)
            for a in sub.names:
                if a.name != "*":
                    out[a.asname or a.name] = (src, a.name)
    return out


class _Graph:
    def __init__(self):
        self.modules: dict[str, _Module] = {}
        for path in sorted((ROOT / PACKAGE).rglob("*.py")):
            m = _Module(_module_name(path), path)
            self.modules[m.name] = m
        self.reached: set[tuple[str, str]] = set()
        self.bodies: set[str] = set()
        self.queue: list[tuple[_Module, ast.AST, dict]] = []

    def resolve(self, module: str, attr: str | None, seen=()):
        """A (module, attr) reference -> ("mod", name) or ("def", module, name)."""
        if attr is None:
            return ("mod", module) if module in self.modules else None
        sub = f"{module}.{attr}"
        if sub in self.modules:
            return ("mod", sub)
        m = self.modules.get(module)
        if m is None or (module, attr) in seen:
            return None
        if attr in m.defs:
            return ("def", module, attr)
        if attr in m.bindings:
            return self.resolve(*m.bindings[attr], seen=seen + ((module, attr),))
        return None

    def mark(self, target):
        if target is None:
            return
        module = target[1]
        # Importing a module runs its package __init__ bodies and its own body.
        parts = module.split(".")
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            if name in self.modules and name not in self.bodies:
                self.bodies.add(name)
                m = self.modules[name]
                body = [
                    n for n in m.tree.body
                    if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                          ast.ClassDef, ast.Import, ast.ImportFrom))
                ]
                self.queue.append((m, ast.Module(body=body, type_ignores=[]), m.bindings))
        if target[0] == "def" and (module, target[2]) not in self.reached:
            self.reached.add((module, target[2]))
            m = self.modules[module]
            node = m.defs[target[2]]
            self.queue.append((m, node, {**m.bindings, **_import_bindings(m, node.body)}))

    def walk_uses(self, mod: _Module, node: ast.AST, bindings: dict):
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                chain = [sub.id]
            elif isinstance(sub, ast.Attribute):
                chain, cur = [], sub
                while isinstance(cur, ast.Attribute):
                    chain.insert(0, cur.attr)
                    cur = cur.value
                if not isinstance(cur, ast.Name):
                    continue
                chain.insert(0, cur.id)
            else:
                continue
            head, rest = chain[0], chain[1:]
            if head in mod.defs:
                target = ("def", mod.name, head)
            elif head in bindings:
                target = self.resolve(*bindings[head])
            else:
                continue
            while target is not None and target[0] == "mod" and rest:
                self.mark(target)
                target = self.resolve(target[1], rest.pop(0))
            self.mark(target)

    def run(self):
        for pattern in ROOT_FILES:
            for path in sorted(ROOT.glob(pattern)):
                name = _module_name(path)
                mod = self.modules.get(name) or _Module(name, path)
                self.reached.update((name, d) for d in mod.defs)
                self.mark(("mod", name))
                self.walk_uses(mod, mod.tree, mod.bindings)
        for surface in ROOT_EXPORTS:
            for name in self.modules[surface].bindings:
                self.mark(self.resolve(surface, name))
        for mname, m in self.modules.items():
            if mname.startswith(ROOT_PACKAGES):
                for name in m.defs:
                    if not name.startswith("_"):
                        self.mark(("def", mname, name))
        while self.queue:
            self.walk_uses(*self.queue.pop())
        return self


def unreached() -> list[str]:
    """``module:definition (N lines)`` for every definition nothing reaches."""
    g = _Graph().run()
    keep = {k.name for k in KEEP}
    out = []
    for mname, m in sorted(g.modules.items()):
        for dname, node in m.defs.items():
            key = f"{mname}:{dname}"
            if (mname, dname) not in g.reached and key not in keep:
                out.append(f"{key} ({node.end_lineno - node.lineno + 1} lines)")
    return out


def test_every_definition_is_reached():
    dead = unreached()
    assert not dead, "unreached hfsa_spark definitions:\n  " + "\n  ".join(dead)


def test_keep_list_names_existing_unreached_definitions():
    g = _Graph().run()
    for k in KEEP:
        mname, dname = k.name.split(":")
        assert dname in g.modules[mname].defs, f"{k.name} no longer exists"
        assert (mname, dname) not in g.reached, f"{k.name} is reached; drop it from KEEP"
        assert k.reason


if __name__ == "__main__":
    print("\n".join(unreached()))
