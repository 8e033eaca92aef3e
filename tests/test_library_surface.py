"""Library surface guard: every public top-level def in the operator,
function, plan and streaming packages is reached from a production entry
point, or is listed in KEEP with the reason it stays.

Production entry points are the driver contract (`__spark_entry__.py`),
the packaging script (`package.py`) and the benchmark (`perfbench/`).
Reachability is by name: the names those files use, and the names used by
library module-level code, are followed through the bodies of the library
defs they name until nothing new is reached.  Matching by bare name can
only over-approximate (two defs sharing a name are reached together), so
a def reported here is certainly reached by nothing but tests.

No JVM: the check only parses source files.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIB = ROOT / "image_ocr_spark"
CHECKED = ("operators", "functions", "plans", "streaming")

# Public defs that no production entry point reaches, each with the reason
# it stays.  A new entry needs a reason of the same kind: a requirement of
# the reference or of the resume/observability rules, or a test-facing API
# the suite cannot do without.  Anything else gets a caller or is deleted.
KEEP = {
    "BucketedCheckpoint": (
        "resume manifests that the north rule requires; it needs a "
        "production caller, not deletion"
    ),
    "bucket_expr": "BucketedCheckpoint's bucket key (same reason)",
    "read_warc_stats": (
        "WARC quarantine counts, an input of the planned run report"
    ),
    "extract_links": "the only path from page HTML into host_rank",
    "pdf_table_cells": "PP-Structure table branch of the reference",
    "fix_company_name": "reference field normalization F10",
    "available_engines": "reference engine registry probe X2",
    "release": "storage lifecycle API that tests use to check for leaks",
    "scope": "storage lifecycle API that tests use to check for leaks",
    "persisted_ids": "storage lifecycle API that tests use to check for leaks",
}

# Library code outside the checked packages, and why it is not checked.
NOT_CHECKED = {
    "pycore/": (
        "single-process oracles: the references the Spark operators are "
        "tested against"
    ),
    "pycore/vp8sys.py": (
        "its encoders are the only in-sandbox source of lossy WebP for "
        "testing the production decoder"
    ),
}


def _used_names(nodes) -> set:
    """Identifiers read in `nodes`: bare names and attribute names.
    Import statements are skipped; an import alias counts as a use of the
    imported name only where the alias is used."""
    names = set()
    aliases = {}
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                for a in n.names:
                    if a.asname:
                        aliases[a.asname] = a.name.rsplit(".", 1)[-1]
            elif isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
    return names | {aliases[a] for a in names & aliases.keys()}


def _library():
    """(defs, module_level): defs maps a top-level def name to the nodes
    of every def with that name; module_level is the names used outside
    def bodies (constants, registries, default arguments, decorators)."""
    defs, module_level = {}, set()
    for path in sorted(LIB.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        rest = []
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
                rest.extend(node.decorator_list)
                if not isinstance(node, ast.ClassDef):
                    rest.extend(node.args.defaults + node.args.kw_defaults)
            else:
                rest.append(node)
        module_level |= _used_names(n for n in rest if n is not None)
    return defs, module_level


def _reachable(defs, module_level) -> set:
    roots = [ROOT / "__spark_entry__.py", ROOT / "package.py"]
    roots += sorted((ROOT / "perfbench").glob("*.py"))
    todo = set(module_level)
    for path in roots:
        todo |= _used_names([ast.parse(path.read_text(), str(path))])
    seen = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for node in defs.get(name, ()):
            todo |= _used_names(node.body) - seen
    return seen


def _checked_public_defs() -> set:
    out = set()
    for pkg in CHECKED:
        for path in sorted((LIB / pkg).glob("*.py")):
            for node in ast.parse(path.read_text(), str(path)).body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ) and not node.name.startswith("_"):
                    out.add(node.name)
    return out


def test_every_public_def_has_a_production_caller_or_a_reason():
    defs, module_level = _library()
    unreached = _checked_public_defs() - _reachable(defs, module_level)
    missing = sorted(unreached - KEEP.keys())
    assert not missing, (
        f"reached only by tests: {missing}; give each a production caller, "
        "delete it, or add it to KEEP with the reason it stays"
    )


def test_keep_lists_only_unreached_defs():
    """A KEEP entry that is no longer a def, or that gained a production
    caller, is stale and goes."""
    defs, module_level = _library()
    public = _checked_public_defs()
    reached = _reachable(defs, module_level)
    stale = sorted(n for n in KEEP if n not in public or n in reached)
    assert not stale, f"stale KEEP entries: {stale}"
