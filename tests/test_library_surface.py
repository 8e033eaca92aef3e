"""Library surface guard: every public top-level def and every public
module-level UPPER_CASE constant in the operator, function, plan and
streaming packages (and in `schemas.py`) is reached from a production
entry point, or is listed in KEEP with the reason it stays; and every
optional parameter of a top-level def there is set by some production
call site, or is listed in KEEP_OPTIONS with the reason it stays.

Production entry points are the driver contract (`__spark_entry__.py`),
the packaging script (`package.py`) and the benchmark (`perfbench/`).
Reachability is by name: the names those files use, and the names used by
library module-level code, are followed through the bodies of the library
defs they name until nothing new is reached.  Matching by bare name can
only over-approximate (two defs sharing a name are reached together), so
a def reported here is certainly reached by nothing but tests.  A name
that is only assigned (a constant's own definition) is not a use.

Options are matched the same way: a call whose function is named like the
def (bare name or attribute) sets a parameter when it passes it, by keyword
or position, anything but the default's own source (`k=5` against
`k: int = 5` sets nothing); a `*args` or `**kwargs` call sets them all.  The
call sites are the entry points above and all library code.  Methods are
not checked: the one class in the checked packages, BucketedCheckpoint,
has no production caller at all (it is in KEEP).

No JVM: the check only parses source files.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIB = ROOT / "image_ocr_spark"
CHECKED = ("operators", "functions", "plans", "streaming")
CONSTANT = re.compile(r"[A-Z][A-Z0-9_]*$")

# Public defs and constants that no production entry point reaches, each
# with the reason it stays.  A new entry needs a reason of the same kind: a requirement of
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
    "extract_pixel_features": (
        "the reference's pixel-level preprocessing over a real image table "
        "(preprocessor.py:81-131); the driver's fixture query decodes in "
        "its encode pass"
    ),
    "fix_company_name": "reference field normalization F10",
    "available_engines": "reference engine registry probe X2",
    "release": "storage lifecycle API that tests use to check for leaks",
    "scope": "storage lifecycle API that tests use to check for leaks",
    "persisted_ids": "storage lifecycle API that tests use to check for leaks",
    "PAGE_SCHEMA": (
        "the input-table contract (url, warc_ts, html, text, lang); the "
        "streaming tests read their page files with it"
    ),
}

# Optional parameters that no production call site sets, each with the
# reason it stays.  Caps and thresholds stay where a test moves them so
# that a fixture-sized input crosses them: the cap tests are the safety
# checks that the capped path is exact or bounded.  Any other option that
# production leaves at its default is deleted and its default becomes code.
_CAP = "a test moves this cap so a fixture-sized input crosses it"
KEEP_OPTIONS = {
    ("minhash_lsh_pairs", "max_bucket"): _CAP + " (star edges == clique components)",
    ("dedup_lines", "max_df"): _CAP + " (boilerplate in <= max_df docs survives)",
    ("ngram_jaccard_pairs", "max_df"): _CAP + " (df-capped candidate join)",
    ("ngram_jaccard_pairs", "threshold_milli"): (
        "a test lowers the threshold to see every candidate pair, capped "
        "and uncapped"
    ),
    ("dedup_substrings", "max_dup_starts"): _CAP + " (per-row rebuild bound)",
    ("embedding_dup_pairs", "max_cell"): _CAP + " (hot-cell split parity)",
    ("embedding_dup_pairs", "nprobe"): (
        "a test moves it 2 -> 1 so a near-dup pair across a cell boundary "
        "is missed: the check that multi-probe blocking catches it"
    ),
    ("robots_rules", "max_rules"): _CAP + " (adversarial robots.txt bound)",
    ("bloom_build", "seg_bits"): _CAP + " (one, many and a short last segment)",
    ("pages_to_warc", "max_chunk_bytes"): _CAP + " (multi-chunk WARC output)",
    ("kmeans_batched_init", "batch"): (
        "batch=1 is the greedy-sweep parity reference for the batched init"
    ),
    ("read_warc", "chunk_col"): (
        "WARC files read through binaryFile, and resume lineage"
    ),
    ("read_warc", "passthrough"): (
        "WARC files read through binaryFile, and resume lineage"
    ),
    ("classify_df", "text_col"): (
        "the benchmark's rollup passes it (perfbench/workloads.py); it goes "
        "with the next change to the benchmark"
    ),
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
            elif isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                names.add(n.id)
            elif isinstance(n, ast.Attribute) and not isinstance(n.ctx, ast.Store):
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


def _checked_public_names() -> set:
    """Public top-level defs of the checked packages, and the public
    module-level UPPER_CASE constants of those packages and of
    `schemas.py`."""
    out = set()
    paths = [p for pkg in CHECKED for p in sorted((LIB / pkg).glob("*.py"))]
    for path in paths + [LIB / "schemas.py"]:
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name] if path.name != "schemas.py" else []
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [
                    t.id
                    for t in targets
                    if isinstance(t, ast.Name) and CONSTANT.match(t.id)
                ]
            else:
                names = []
            out |= {n for n in names if not n.startswith("_")}
    return out


def test_every_public_def_has_a_production_caller_or_a_reason():
    defs, module_level = _library()
    unreached = _checked_public_names() - _reachable(defs, module_level)
    # a kept def keeps the constants it reads
    kept = _reachable(defs, module_level | {n for n in KEEP if not CONSTANT.match(n)})
    missing = sorted(
        n for n in unreached - KEEP.keys() if not (CONSTANT.match(n) and n in kept)
    )
    assert not missing, (
        f"reached only by tests: {missing}; give each a production caller, "
        "delete it, or add it to KEEP with the reason it stays"
    )


def test_keep_lists_only_unreached_defs():
    """A KEEP entry that is no longer a def, or that gained a production
    caller, is stale and goes."""
    defs, module_level = _library()
    public = _checked_public_names()
    reached = _reachable(defs, module_level)
    stale = sorted(n for n in KEEP if n not in public or n in reached)
    assert not stale, f"stale KEEP entries: {stale}"


def _optional_params() -> dict:
    """{(def, param): (position or None for keyword-only, defaults)} over
    the optional parameters of the checked packages' top-level defs;
    defaults holds the source (ast.dump) of the default of each def of
    that name."""
    out = {}
    for pkg in CHECKED:
        for path in sorted((LIB / pkg).glob("*.py")):
            for node in ast.parse(path.read_text(), str(path)).body:
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                a = node.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                params = [
                    (arg.arg, i, d)
                    for (i, arg), d in zip(enumerate(pos[first:], first), a.defaults)
                ]
                params += [
                    (arg.arg, None, d)
                    for arg, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                ]
                for name, i, d in params:
                    _, defaults = out.get((node.name, name), (i, set()))
                    out[(node.name, name)] = (i, defaults | {ast.dump(d)})
    return out


def _production_args() -> dict:
    """{(called name, keyword or position): {ast.dump of each value}} over
    every production call site.  A `**kwargs` call is recorded under
    keyword None (it sets every keyword), a `*args` call under position
    "*" (it sets every position)."""
    paths = [ROOT / "__spark_entry__.py", ROOT / "package.py"]
    paths += sorted((ROOT / "perfbench").glob("*.py"))
    paths += sorted(LIB.rglob("*.py"))
    out = {}
    for path in paths:
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(n, ast.Call):
                continue
            if isinstance(n.func, ast.Name):
                name = n.func.id
            elif isinstance(n.func, ast.Attribute):
                name = n.func.attr
            else:
                continue
            passed = [(k.arg, k.value) for k in n.keywords]
            for i, a in enumerate(n.args):
                if isinstance(a, ast.Starred):
                    passed.append(("*", a))
                    break
                passed.append((i, a))
            for key, value in passed:
                out.setdefault((name, key), set()).add(ast.dump(value))
    return out


def _unset_options() -> set:
    """Options that no production call site sets to anything but their
    default: passing the default's own source (`k=5` where the def says
    `k: int = 5`) does not count.  Where defs sharing a name differ in a
    default, any passed value counts."""
    args = _production_args()
    unset = set()
    for (fn, param), (i, defaults) in _optional_params().items():
        if (fn, None) in args or (i is not None and (fn, "*") in args):
            continue
        passed = args.get((fn, param), set())
        if i is not None:
            passed = passed | args.get((fn, i), set())
        if not passed or (len(defaults) == 1 and passed <= defaults):
            unset.add((fn, param))
    return unset


def test_every_option_has_a_production_setter_or_a_reason():
    missing = sorted(_unset_options() - KEEP_OPTIONS.keys())
    assert not missing, (
        f"optional parameters no production call site sets: {missing}; "
        "make each default the code, give it a production caller, or add it "
        "to KEEP_OPTIONS with the reason it stays"
    )


def test_keep_options_lists_only_unset_options():
    """A KEEP_OPTIONS entry that is no longer an optional parameter, or
    that a production call site now sets, is stale and goes."""
    options = _optional_params()
    unset = _unset_options()
    stale = sorted(k for k in KEEP_OPTIONS if k not in options or k not in unset)
    assert not stale, f"stale KEEP_OPTIONS entries: {stale}"
