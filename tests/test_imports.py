"""Every `neosemantics_spark` import in the package, the jobs, the scripts,
the examples, the benchmark, the tests and the driver contract resolves —
including lazy imports inside functions, which only fail when their code
path runs. Reads the sources with `ast`; starts no Spark session."""

import ast
import importlib
import importlib.util
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "neosemantics_spark"


def _sources():
    for d in (PKG, "jobs", "scripts", "examples", "kgbench", "tests"):
        yield from sorted((ROOT / d).rglob("*.py"))
    yield ROOT / "__spark_entry__.py"


def _imports(path):
    """(module, [names]) for each package import in `path`; names is
    empty for a plain `import x.y`."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield a.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg = list(path.relative_to(ROOT).parent.parts)
                base = pkg[: len(pkg) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            if mod.split(".")[0] == PKG:
                yield mod, [a.name for a in node.names]


def test_package_imports_resolve():
    seen = 0
    missing = []
    for path in _sources():
        where = path.relative_to(ROOT)
        for mod, names in _imports(path):
            seen += 1
            if importlib.util.find_spec(mod) is None:
                missing.append(f"{where}: module {mod}")
                continue
            m = importlib.import_module(mod)
            for name in names:
                if name == "*" or hasattr(m, name):
                    continue
                sub = f"{mod}.{name}"
                # a submodule is found only through a package's __path__
                if not (hasattr(m, "__path__") and importlib.util.find_spec(sub)):
                    missing.append(f"{where}: {sub}")
    assert seen > 50, seen
    assert not missing, "\n".join(missing)
