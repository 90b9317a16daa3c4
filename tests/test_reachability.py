"""Every package module is reached from an entry point.

Walks the import graph, read from the AST (imports inside functions
included, docstrings and comments ignored), from the repo's entry
points: the driver contract, the two bench scripts, the benchmark
harness and the tools. A package module the walk does not reach is
code that only tests run; it fails here unless the keep-list below
names it with its reason.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "pdf_metadata_extraction_spark"

# module -> why it stays although no entry point imports it; a kept
# module's own imports count as reached
KEEP = {
    f"{PKG}.daemon_preload":
        "loaded by name through spark.python.daemon.module (session.get_spark)",
    f"{PKG}.streaming.tasks": "reference parity: the F4/S6 queue-message task feed",
    f"{PKG}.operators.watermark": "reference parity: S5/D1 consume-once",
    f"{PKG}.sources.io": "reference parity: the S4 sink (write_table/read_table)",
    f"{PKG}.streaming.incremental":
        "robustness: the streaming HLL sink and its kill-safe register compaction",
}


def _entry_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py"]
    files += sorted((ROOT / "perfbench").glob("*.py"))
    files += sorted((ROOT / "tools").glob("*.py"))
    return files


def _module_files() -> dict[str, Path]:
    out = {}
    for p in [*_entry_files(), *(ROOT / PKG).rglob("*.py")]:
        parts = p.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = p
    return out


def _prefixes(name: str) -> set[str]:
    """``a.b.c`` -> {a, a.b, a.b.c}: importing a module runs every
    enclosing package's ``__init__`` too."""
    parts = name.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)}


def _imports(mod: str, path: Path) -> set[str]:
    """Every dotted name ``mod`` imports, at any depth of its AST."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = mod.split(".")
                if path.name != "__init__.py":
                    pkg = pkg[:-1]
                pkg = pkg[: len(pkg) - node.level + 1]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            # `from pkg import submodule`
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def test_every_package_module_is_reached_from_an_entry_point():
    known = _module_files()
    entry_files = set(_entry_files())
    seen, stack = set(), [m for m, p in known.items() if p in entry_files] + list(KEEP)
    while stack:
        mod = stack.pop()
        if mod in seen:
            continue
        seen.add(mod)
        found = _prefixes(mod).union(*map(_prefixes, _imports(mod, known[mod])))
        stack.extend((found & known.keys()) - seen)
    assert set(KEEP) <= known.keys(), set(KEEP) - known.keys()
    unreached = sorted(m for m in known if m.startswith(PKG) and m not in seen)
    assert not unreached, f"only tests reach: {unreached}"
