"""No public package function may be reached only from tests.

A function is *reached* when a chain of references leads to it from
module-level code in the package, ``examples/``, ``scripts/``,
``vaultbench/``, ``bench.py`` or ``__spark_entry__.py``. The walk is
static: every file is parsed with ``ast`` (docstrings and comments are
not code, so a mention there reaches nothing) and references are
followed through function bodies:

- a name bound by a top-level ``def``/``class`` or by an import;
- ``module.name`` through an imported module alias;
- a decorated top-level function, because module-level code hands it
  to the decorator (the ``@query`` registry);
- a method, once its class is reached and some reached code reads an
  attribute of that name.

Adding a public function or method that nothing but tests calls makes
this test fail and name it. Delete it, call it from a workload, or add
it to ``ALLOWLIST`` with the reason it stays. No Spark session is used.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "pyspark_playground_spark"

#: kept although only tests reach them: qualified name (a module or class
#: entry covers everything defined in it, relative to the package) -> reason
ALLOWLIST = {
    "operators.dedup.simhash_expr":
        "the per-row reference that simhash_signatures is tested against",
    "operators.vault.RawVault":
        "mirrors the reference RawVault API (SURVEY.md raw-vault rows); "
        "update_point_in_time_table_for_batch awaits ROADMAP direction 3",
    "operators.vault.BusinessVault.join_linked_hubs":
        "reference BusinessVault name (SURVEY.md join_linked_hubs row)",
    "operators.curated.replace_id_with_public_id":
        "reference Curated helper (SURVEY.md Curated.map_to_curated row)",
    "operators.business_vault.pit_rows_incremental":
        "the PIT recompute behind update_point_in_time_table_for_batch; "
        "ROADMAP direction 3 decides its fate",
    "operators.merge":
        "Delta MERGE loaders mirroring the reference v1 LoadRaw path "
        "(SURVEY.md LoadRaw row)",
    "streaming.cdc.rollup_stream_loader":
        "the foreachBatch adapter of operators/rollup.py, kept with the "
        "live streaming path",
    "operators.multimodal.decode_image":
        "the real-codec hook; raises until an image decoder is installed",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _sources() -> list[Path]:
    files = list((REPO / PACKAGE).rglob("*.py"))
    for d in ("examples", "scripts", "vaultbench"):
        files += [
            p for p in (REPO / d).glob("*.py") if not p.name.startswith("test_")
        ]
    return files + [REPO / "bench.py", REPO / "__spark_entry__.py"]


class _Module:
    def __init__(self, path: Path, known: set[str]):
        self.name = _module_name(path)
        self.is_package = path.name == "__init__.py"
        self.known = known
        self.tree = ast.parse(path.read_text())
        self.defs = {n.name: n for n in self.tree.body if isinstance(n, _DEFS)}
        top_imports = []
        stack = list(self.tree.body)
        while stack:  # module-level imports, including those under if/try
            n = stack.pop()
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                top_imports.append(n)
            elif not isinstance(n, (*_DEFS, ast.Lambda)):
                stack.extend(ast.iter_child_nodes(n))
        self.aliases = self.imports(top_imports)

    def _absolute(self, mod: str, level: int) -> str:
        if level:
            parts = self.name.split(".")
            parts = parts[: len(parts) - level + self.is_package]
            mod = ".".join(parts + ([mod] if mod else []))
        # scripts and vaultbench import their siblings by bare name
        if mod not in self.known and "." in self.name:
            sibling = self.name.rsplit(".", 1)[0] + "." + mod
            if sibling in self.known:
                return sibling
        return mod

    def imports(self, stmts) -> dict[str, tuple[str, str | None]]:
        """alias -> (module, None) for a module, (module, name) for an object."""
        out: dict[str, tuple[str, str | None]] = {}
        for n in stmts:
            if isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname:
                        out[a.asname] = (self._absolute(a.name, 0), None)
                    else:
                        top = a.name.split(".")[0]
                        out[top] = (self._absolute(top, 0), None)
            else:
                base = self._absolute(n.module or "", n.level)
                for a in n.names:
                    sub = f"{base}.{a.name}"
                    out[a.asname or a.name] = (
                        (sub, None) if sub in self.known else (base, a.name)
                    )
        return out


class _Walker:
    def __init__(self):
        paths = _sources()
        known = {_module_name(p) for p in paths}
        self.mods = {m.name: m for m in (_Module(p, known) for p in paths)}
        self.reached: set[str] = set()
        self.attrs: set[str] = set()
        #: method name -> (module, class qual, def) of every reached class
        self.methods: dict[str, list[tuple[_Module, str, ast.AST]]] = {}
        self.todo: list[tuple[_Module, ast.AST]] = []

    def lookup(self, mod: str, name: str, seen=()) -> str | None:
        m = self.mods.get(mod)
        if m is None or (mod, name) in seen:
            return None
        if name in m.defs:
            return f"{mod}.{name}"
        tmod, tname = m.aliases.get(name, (None, None))
        if tname is not None:
            return self.lookup(tmod, tname, (*seen, (mod, name)))
        return None

    def reach(self, qual: str, m: _Module | None = None, node=None) -> None:
        if qual in self.reached:
            return
        self.reached.add(qual)
        if node is None:
            mod, name = qual.rsplit(".", 1)
            m = self.mods[mod]
            node = m.defs[name]
        if not isinstance(node, ast.ClassDef):
            self.todo.append((m, node))
            return
        self.todo += [(m, d) for d in node.decorator_list + node.bases]
        for item in node.body:
            if not isinstance(item, _FUNCS):
                self.todo.append((m, item))
            elif item.name.startswith("__") or item.name in self.attrs:
                self.reach(f"{qual}.{item.name}", m, item)
            else:
                self.methods.setdefault(item.name, []).append((m, qual, item))

    def see_attr(self, attr: str) -> None:
        if attr not in self.attrs:
            self.attrs.add(attr)
            for m, cls, item in self.methods.pop(attr, []):
                self.reach(f"{cls}.{item.name}", m, item)

    def scan(self, m: _Module, node: ast.AST) -> None:
        names, chains, imports = [], [], []
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                names.append(n.id)
            elif isinstance(n, ast.Attribute):
                self.see_attr(n.attr)
                parts, cur = [], n
                while isinstance(cur, ast.Attribute):
                    parts.append(cur.attr)
                    cur = cur.value
                if isinstance(cur, ast.Name):
                    chains.append((cur.id, parts[::-1]))
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                imports.append(n)
        aliases = m.aliases
        if imports:
            aliases = {**aliases, **m.imports(imports)}
        for name in names:
            if name in m.defs:
                self.reach(f"{m.name}.{name}")
            elif aliases.get(name, (None, None))[1] is not None:
                q = self.lookup(*aliases[name])
                if q:
                    self.reach(q)
        for base, parts in chains:
            tmod, tname = aliases.get(base, (None, ""))
            if tname is None:
                self.reach_dotted(tmod, parts)

    def reach_dotted(self, mod: str, parts: list[str]) -> None:
        for p in parts:
            if f"{mod}.{p}" in self.mods:
                mod = f"{mod}.{p}"
                continue
            q = self.lookup(mod, p)
            if q:
                self.reach(q)
            return

    def run(self) -> None:
        for m in self.mods.values():
            for node in m.tree.body:
                if isinstance(node, _FUNCS):
                    if node.decorator_list:
                        self.reach(f"{m.name}.{node.name}")
                elif isinstance(node, ast.ClassDef):
                    self.todo += [(m, d) for d in node.decorator_list]
                else:
                    self.todo.append((m, node))
        while self.todo:
            self.scan(*self.todo.pop())

    def public_functions(self):
        for name, m in self.mods.items():
            if not name.startswith(PACKAGE):
                continue
            for fname, node in m.defs.items():
                if fname.startswith("_"):
                    continue
                qual = f"{name}.{fname}"
                if not isinstance(node, ast.ClassDef):
                    yield qual
                    continue
                for item in node.body:
                    if isinstance(item, _FUNCS) and not item.name.startswith("_"):
                        yield f"{qual}.{item.name}"


def _allowlisted_by(qual: str) -> str | None:
    rel = qual[len(PACKAGE) + 1:]
    parts = rel.split(".")
    for i in range(len(parts), 0, -1):
        if ".".join(parts[:i]) in ALLOWLIST:
            return ".".join(parts[:i])
    return None


def test_every_public_function_is_reached_from_a_workload():
    w = _Walker()
    w.run()
    unreached = [q for q in w.public_functions() if q not in w.reached]
    missing = sorted(q for q in unreached if _allowlisted_by(q) is None)
    assert not missing, (
        "public functions reached only from tests (delete them, call them "
        "from a workload, or allowlist them with a reason):\n  "
        + "\n  ".join(missing)
    )
    # an entry that no longer covers an unreached function is stale
    used = {_allowlisted_by(q) for q in unreached}
    assert set(ALLOWLIST) <= used, (
        f"stale ALLOWLIST entries: {sorted(set(ALLOWLIST) - used)}"
    )
