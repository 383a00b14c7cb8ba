"""Product-surface guard: every engine module is reachable from the
product, so the library cannot grow code that only its own tests use.

The product surface is the gate contract (`__spark_entry__.py`),
`api.py`, the bench runners (`bench.py`, `bench_extra.py`), the
`tools/` scripts, and the Python worker daemon that `session.py` names
in `spark.python.daemon.module`.  Their imports are followed
statically through the AST (function-local imports included), without
importing anything, so this test needs no Spark.

Four modules stay unreached on purpose: `sources.icetable` (the Iceberg
input) and `plans.manifest` (resumable per-partition checkpoints),
which carry BASELINE north-rule promises, and the paper's two raw input
formats, `sources.warc` (Common Crawl WARC records) and
`sources.geotiff` (GeoTIFF/COG rasters for the NDVI tiles).  They are
to be wired into the product, not deleted.  Any other unreached module is dead code: wire
it into the surface or delete it with its tests.

The same holds one level down: every top-level function or class of a
reached module is named somewhere in the product's source (a call, an
attribute, an import or a string — registry names and conf values
count; a docstring does not, since prose that names a function does not
run it), except `api.py`'s own definitions, which are the public
surface, and the reference functions in `TEST_REFERENCES`, which tests
use as the oracle for product code.

And no function of a reached module takes a size or route hint: task
counts and routes come from what the driver already knows (a source
file listing, a bounded fetch), not from a number the caller passes.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "greenexp_r_spark"

NOT_YET_WIRED = {"sources.icetable", "plans.manifest",
                 "sources.warc", "sources.geotiff"}

# definitions only tests name, kept on purpose
TEST_REFERENCES = {
    # inverse projections: the round-trip oracles of the product's
    # forward mercator / UTM transforms
    "functions.crs.mercator_inverse",
    "functions.crs.utm_inverse",
    # single-ring centroid and convex containment: the oracles of the
    # overlay, geomprops, concave and hull kernels
    "kernels.geom.polygon_centroid",
    "kernels.geom.points_in_convex_polygon",
    # ring-parity containment: the sampling oracle of the overlay's
    # holed-park cover
    "kernels.concave.points_in_rings",
    # the per-block entropy coder: the oracle of the vectorized one
    "kernels.jpeg._encode_block",
    # the DataFrame NB training: the oracle of the fused classifier
    "operators.classify.nb_train",
    # the reference JFIF encoder whose streams the decoder tests read
    "operators.multimodal.encode_jpeg",
    # the two per-document decode paths meta_thumbnail fuses
    "operators.multimodal.decode_meta",
    "operators.multimodal.thumbnail_stats",
    # staged redaction: the oracle of the gate's chained pii columns
    "operators.pii.scrub_pii",
    # the JVM-expression top-k: the oracle of the Arrow/numpy top-k
    "operators.similarity.brute_force_topk",
    # the component shapes that text_profile and fingerprint_rep fuse
    "operators.textqa.token_stats",
    "operators.textqa.token_pieces",
    "operators.textqa.token_profile",
    "operators.textqa.text_qa",
    "operators.textqa.repetition_stats",
    # the zonal consumer of the raster sources not yet wired
    # (sources.geotiff, sources.icetable); wired with them
    "operators.zonal_tiles.ndvi_zonal_tiles",
}


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path: Path) -> set[str]:
    """Dotted names of the engine modules `path` imports, with the
    packages each import loads on the way."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = parts[:len(parts) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            out.add(mod)
            # `from pkg import sub` loads the submodule `pkg.sub`
            out.update(f"{mod}.{a.name}" for a in node.names)
    closed = set()
    for mod in out:
        parts = mod.split(".")
        closed.update(".".join(parts[:i + 1]) for i in range(len(parts)))
    return {m for m in closed
            if m.split(".")[0] == PKG and _module_file(m) is not None}


def _daemon_module() -> str:
    tree = ast.parse((ROOT / PKG / "session.py").read_text())
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and len(node.args) == 2
                and all(isinstance(a, ast.Constant) for a in node.args)
                and node.args[0].value == "spark.python.daemon.module"):
            return node.args[1].value
    raise AssertionError("session.py names no spark.python.daemon.module")


def _roots() -> list[Path]:
    roots = [ROOT / "__spark_entry__.py", ROOT / PKG / "api.py",
             ROOT / "bench.py", ROOT / "bench_extra.py",
             *sorted((ROOT / "tools").glob("*.py"))]
    daemon = _daemon_module()
    assert _module_file(daemon) is not None, daemon
    return roots + [_module_file(daemon)]


def _reached() -> set[str]:
    seen: set[str] = set()
    todo = _roots()
    for p in todo:
        if p.is_relative_to(ROOT / PKG):
            seen.add(_module_name(p))
    while todo:
        for mod in _imports(todo.pop()):
            if mod not in seen:
                seen.add(mod)
                todo.append(_module_file(mod))
    return seen


def _engine_modules() -> set[str]:
    return {_module_name(p) for p in (ROOT / PKG).rglob("*.py")
            if p.name != "__init__.py"}


def test_every_engine_module_is_reached_by_the_product():
    unreached = {m.removeprefix(PKG + ".")
                 for m in _engine_modules() - _reached()}
    assert unreached == NOT_YET_WIRED, (
        "engine modules no product entry point imports (wire them "
        f"into the surface or delete them): {sorted(unreached - NOT_YET_WIRED)}; "
        f"wired since: {sorted(NOT_YET_WIRED - unreached)}")


def test_walk_follows_relative_and_local_imports():
    reached = _reached()
    # registry.py imports the pages registry inside a function, and
    # the daemon is named only by a conf string in session.py
    assert f"{PKG}.registry_pages" in reached
    assert f"{PKG}.worker_daemon" in reached
    assert f"{PKG}.kernels.exposure" in reached


def _product_names() -> set[str]:
    """Every identifier the product's source mentions: names,
    attributes, imported names, and word tokens inside strings."""
    files = _roots() + [p for p in (ROOT / PKG).rglob("*.py")]
    names: set[str] = set()
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        docs = {id(n.body[0].value) for n in ast.walk(tree)
                if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                  ast.AsyncFunctionDef))
                and ast.get_docstring(n, clean=False) is not None}
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rpartition(".")[2])
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str) and id(node) not in docs):
                names.update(re.findall(r"[A-Za-z_]\w*", node.value))
    return names


def _definitions(module: str) -> list[str]:
    tree = ast.parse(_module_file(module).read_text())
    return [node.name for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.ClassDef))]


def test_every_definition_is_named_by_the_product():
    names = _product_names()
    unnamed = {f"{m.removeprefix(PKG + '.')}.{d}" for m in _reached()
               if m != f"{PKG}.api" for d in _definitions(m)
               if d not in names}
    assert unnamed == TEST_REFERENCES, (
        "definitions the product never names (wire them in or delete "
        f"them with their tests): {sorted(unnamed - TEST_REFERENCES)}; "
        f"named since: {sorted(TEST_REFERENCES - unnamed)}")


def test_no_reached_function_takes_a_hint():
    hinted = []
    for m in sorted(_reached()):
        tree = ast.parse(_module_file(m).read_text())
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.Lambda)):
                continue
            a = node.args
            for arg in (*a.posonlyargs, *a.args, *a.kwonlyargs,
                        a.vararg, a.kwarg):
                if arg is not None and arg.arg.endswith("_hint"):
                    hinted.append(f"{m.removeprefix(PKG + '.')}."
                                  f"{getattr(node, 'name', '<lambda>')}"
                                  f"({arg.arg})")
    assert hinted == [], (
        "size/route hints (derive them on the driver instead): "
        f"{hinted}")
