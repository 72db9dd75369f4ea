"""Self-enforcing driver-window rotation (VERDICT r6 Next #2, refined r8).

The driver's correctness harness re-checks only the FIRST
``DRIVER_WINDOW`` registered queries each round, so any query whose
backing code changed after its last driver row carries stale external
evidence until it rotates back into the window. The window is the one
tuple ``_DRIVER_WINDOW`` in the package ``__init__.py``; regenerate it
with ``scripts/plan_window.py --tuple``. This test turns the rotation
into a red/green invariant:

    every registered query whose backing CODE — the query function
    itself, or any top-level function it (transitively) calls that
    changed — was touched since the last round-boundary commit MUST
    appear in the first DRIVER_WINDOW positions of ``all_queries()``,
    and so must every query that has never had a driver CORRECTNESS row.

Granularity (r8 refinement): r7 used module granularity ("any change to
streams.py fronts all 16 streaming queries"). That made the invariant
and NOTES.md's staleness ledger mutually unsatisfiable the moment a
round must both rotate a 33-query stale backlog in AND touch wide
modules (round 8 does exactly that: manifest-commit protocol in
streams.py/maintenance.py, codec hook in multimodal.py, IVF persistence
in similarity.py). Evidence staleness is a property of the code a query
actually executes, not of the file it lives in, so dirtiness is now
computed per top-level function and propagated through a conservative
global call-graph fixpoint:

  * seed: every top-level function whose span intersects the new-side
    diff lines of ``git diff -U0 <boundary>`` (committed AND working
    tree);
  * changed top-level BINDINGS (constants, class defs, imports) seed
    the fixpoint by NAME — every function referencing the bound name
    goes dirty — instead of dirtying the whole module (a new module
    constant must not front every query in a 1,700-line api module);
  * any changed line outside every function AND binding span (bare
    top-level expressions, conditional module logic) still marks the
    whole module dirty — the module-granularity fallback survives for
    genuinely unattributable edits;
  * fixpoint: a function becomes dirty if its source references a dirty
    function's name as a call (``\\bNAME\\s*(``) or a dirty binding's
    bare name (``\\bNAME\\b``), across ALL package modules — this
    subsumes r7's api.py special case (query sources call
    ``api.NAME(...)``) and additionally follows helper-to-helper chains
    and brand-new helper modules. Name collisions over-approximate;
    over-fronting is safe, under-fronting is the bug this test exists
    to prevent.

Infrastructure modules (registry.py, session.py, io.py, __init__.py,
utils.py) are exempt: a change there affects all registered queries
equally and is covered by the full local oracle sweep, not by window
ordering.

``scripts/plan_window.py`` imports :func:`dirty_query_names` so the
generator and the enforcing test cannot drift apart.
"""

from __future__ import annotations

import ast
import glob
import importlib
import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "dicebox_sensorybatchprocessor_spark"

_INFRA = {
    f"{PKG}/__init__.py",
    f"{PKG}/registry.py",
    f"{PKG}/session.py",
    f"{PKG}/io.py",
    f"{PKG}/utils.py",
}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def _round_boundary() -> str | None:
    """Hash of the most recent driver round-boundary commit
    (subject ``round N: ...``)."""
    out = _git("log", "--format=%H %s")
    for line in out.splitlines():
        sha, _, subject = line.partition(" ")
        if re.match(r"^round \d+:", subject):
            return sha
    return None


def _touched_files(boundary: str) -> set[str]:
    """Package .py files changed between the boundary commit and the
    working tree — committed, uncommitted, and UNTRACKED alike (a
    brand-new helper module is the most-touched file there is)."""
    out = _git("diff", "--name-only", boundary, "--", f"{PKG}/")
    out += _git("ls-files", "--others", "--exclude-standard", "--", f"{PKG}/")
    return {p for p in out.splitlines() if p.endswith(".py")} - _INFRA


def _changed_new_lines(boundary: str, rel: str) -> set[int]:
    """New-side line numbers touched by ``git diff -U0 boundary -- rel``.
    Pure deletions (``+N,0`` hunks) conservatively mark line N."""
    diff = _git("diff", "-U0", boundary, "--", rel)
    changed: set[int] = set()
    for m in re.finditer(r"^@@ -\S+ \+(\d+)(?:,(\d+))? @@", diff, re.M):
        start = int(m.group(1))
        count = int(m.group(2)) if m.group(2) is not None else 1
        changed.update(range(start, start + max(count, 1)))
    return changed


def _top_level_functions(rel: str) -> dict[str, tuple[int, int, str]]:
    """name -> (start_line, end_line, source) for every top-level
    (sync/async) function in the package file, decorators included."""
    path = REPO / rel
    if not path.exists():  # deleted file: nothing to attribute
        return {}
    text = path.read_text()
    tree = ast.parse(text)
    lines = text.splitlines()
    out: dict[str, tuple[int, int, str]] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            end = node.end_lineno or node.lineno
            out[node.name] = (start, end, "\n".join(lines[start - 1 : end]))
    return out


def _top_level_bindings(rel: str) -> dict[str, tuple[int, int]]:
    """name -> (start_line, end_line) for every top-level binding that is
    not a function: assignments (constants) and class definitions. A
    diff touching one of these dirties the functions that REFERENCE the
    name, via the fixpoint — not the whole module.

    Import statements are deliberately NOT bindings: an import binds an
    external name whose behavior is defined (and tracked) at its source
    — seeding ``os``/``DataFrame`` from a new file's import block would
    dirty every function in the package. A changed in-package callee is
    caught through its own function span; an import-only rebind without
    any caller change is the one theoretical gap, accepted as far
    smaller than the false-positive blast radius."""
    path = REPO / rel
    if not path.exists():
        return {}
    tree = ast.parse(path.read_text())
    out: dict[str, tuple[int, int]] = {}

    def _bind(name: str, node) -> None:
        out[name] = (node.lineno, node.end_lineno or node.lineno)

    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        _bind(n.id, node)
        elif isinstance(node, ast.ClassDef):
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            out[node.name] = (start, node.end_lineno or node.lineno)
    return out


def _import_and_docstring_lines(rel: str) -> set[int]:
    """Lines of top-level import statements and the module docstring."""
    path = REPO / rel
    if not path.exists():
        return {0}
    tree = ast.parse(path.read_text())
    lines: set[int] = set()
    body = tree.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        lines.update(range(body[0].lineno, (body[0].end_lineno or body[0].lineno) + 1))
    for node in body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            lines.update(range(node.lineno, (node.end_lineno or node.lineno) + 1))
    return lines


def _package_files() -> list[str]:
    return [
        str(p.relative_to(REPO))
        for p in (REPO / PKG).rglob("*.py")
        if "__pycache__" not in p.parts
    ]


def dirty_query_names(boundary: str, queries, extra=()) -> dict[str, str]:
    """Registered query names whose backing code changed since
    ``boundary`` (value = human-readable reason), per the granularity
    rules in the module docstring. ``extra`` holds hypothetical edits
    ``(rel, name)``: a top-level function seeds as a changed function,
    and ``Class.method`` seeds its class as a changed binding."""
    touched = _touched_files(boundary)
    extra = {(rel, name) for rel, name in extra if rel not in _INFRA}
    if not touched and not extra:
        return {}

    # -- seed dirt from diffs ------------------------------------------
    dirty: dict[tuple[str, str], str] = {}  # (rel, fn_name) -> reason
    dirty_bindings: set[str] = set()  # bare names matched as \bNAME\b
    module_wide: dict[str, str] = {}  # rel -> reason
    for rel, name in extra:
        top = name.partition(".")[0]
        if top in _top_level_functions(rel):
            dirty[(rel, top)] = f"{rel}:{top} edited"
        else:
            dirty_bindings.add(top)
    for rel in touched:
        fns = _top_level_functions(rel)
        binds = _top_level_bindings(rel)
        changed = _changed_new_lines(boundary, rel)
        if not changed:  # untracked new file: everything is new
            module_wide[rel] = f"{rel} is a new file"
            continue
        covered: set[int] = set()
        for name, (s, e, _src) in fns.items():
            span = set(range(s, e + 1))
            covered |= span
            if changed & span:
                dirty[(rel, name)] = f"{rel}:{name} changed"
        for name, (s, e) in binds.items():
            span = set(range(s, e + 1))
            covered |= span
            if changed & span:
                dirty_bindings.add(name)
        # blank / comment-only changed lines between definitions, import
        # statements (see _top_level_bindings on why imports don't seed),
        # and the module docstring are formatting/metadata, not behavior
        # — they must not dirty the module
        covered |= _import_and_docstring_lines(rel)
        src_lines = (REPO / rel).read_text().splitlines() if (REPO / rel).exists() else []
        substantive = {
            n
            for n in changed - covered
            if n <= len(src_lines) and src_lines[n - 1].strip() not in ("",)
            and not src_lines[n - 1].lstrip().startswith("#")
        }
        if substantive:
            module_wide[rel] = f"{rel} changed outside definition spans"

    for rel, reason in module_wide.items():
        for name in _top_level_functions(rel):
            dirty.setdefault((rel, name), reason)

    # -- global call-graph fixpoint ------------------------------------
    all_fns = {
        (rel, name): src
        for rel in _package_files()
        if rel not in _INFRA
        for name, (_s, _e, src) in _top_level_functions(rel).items()
    }
    while True:
        fn_names = {n for (_r, n) in dirty}
        pats = []
        if fn_names:
            pats.append(
                r"\b(" + "|".join(re.escape(n) for n in sorted(fn_names)) + r")\s*\("
            )
        if dirty_bindings:
            pats.append(
                r"\b(" + "|".join(re.escape(n) for n in sorted(dirty_bindings)) + r")\b"
            )
        if not pats:
            break
        pat = re.compile("|".join(pats))
        grew = False
        for key, src in all_fns.items():
            if key in dirty:
                continue
            m = pat.search(src)
            if m:
                dirty[key] = f"{key[0]}:{key[1]} references dirty {m.group(0)}"
                grew = True
        if not grew:
            break

    # -- attribute to registered queries -------------------------------
    out: dict[str, str] = {}
    for qname, spec in queries.items():
        mod = sys.modules.get(spec.fn.__module__) or importlib.import_module(
            spec.fn.__module__
        )
        mod_rel = str(Path(mod.__file__).resolve().relative_to(REPO))
        if mod_rel in module_wide:
            out[qname] = module_wide[mod_rel]
        elif (mod_rel, spec.fn.__name__) in dirty:
            out[qname] = dirty[(mod_rel, spec.fn.__name__)]
    return out


def never_driver_checked(queries) -> set[str]:
    """Registered query names with no row in any CORRECTNESS_r*.json."""
    seen: set[str] = set()
    for path in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        try:
            seen |= set(json.load(open(path)))
        except (OSError, json.JSONDecodeError):
            continue
    return {n for n in queries if n not in seen}


def test_touched_queries_are_inside_driver_window() -> None:
    boundary = _round_boundary()
    if boundary is None:
        pytest.skip("no round-boundary commit in history (fresh clone)")

    eng = importlib.import_module(PKG)
    queries = eng.all_queries()
    window = set(list(queries)[: eng.DRIVER_WINDOW])

    must_front = dirty_query_names(boundary, queries)
    for qname in never_driver_checked(queries):
        must_front.setdefault(qname, "never driver-checked (new query)")

    stragglers = {n: why for n, why in must_front.items() if n not in window}
    assert not stragglers, (
        f"{len(stragglers)} queries touched since round boundary "
        f"{boundary[:9]} are OUTSIDE the first {eng.DRIVER_WINDOW} driver "
        f"slots — regenerate _DRIVER_WINDOW with scripts/plan_window.py "
        f"--tuple: {stragglers}"
    )


def test_driver_window_is_the_one_tuple() -> None:
    """``all_queries()`` leads with ``_DRIVER_WINDOW``: exactly one window
    long, no duplicates, only registered names."""
    eng = importlib.import_module(PKG)
    queries = eng.all_queries()
    window = eng._DRIVER_WINDOW
    assert len(window) == eng.DRIVER_WINDOW
    assert len(set(window)) == len(window), "duplicate names in _DRIVER_WINDOW"
    assert set(window) <= set(queries), set(window) - set(queries)
    assert list(queries)[: eng.DRIVER_WINDOW] == list(window)


def _planned_touched(*args: str) -> int:
    """``touched`` from the summary line of scripts/plan_window.py."""
    out = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "plan_window.py"), *args],
        cwd=REPO, capture_output=True, text=True,
    ).stdout
    return int(re.search(r"touched=(\d+)", out).group(1))


def test_plan_window_cost_of_no_edit_is_the_plain_plan() -> None:
    assert _planned_touched("--cost") == _planned_touched()


def test_plan_window_cost_counts_an_edited_query() -> None:
    """Editing a clean query function that nothing else calls fronts
    exactly its one registered query."""
    boundary = _round_boundary()
    if boundary is None:
        pytest.skip("no round-boundary commit in history (fresh clone)")
    queries = importlib.import_module(PKG).all_queries()
    required = set(dirty_query_names(boundary, queries)) | never_driver_checked(queries)
    sources = "\n".join((REPO / rel).read_text() for rel in _package_files())
    fn_names = [spec.fn.__name__ for spec in queries.values()]
    rel, fn = next(
        (Path(sys.modules[spec.fn.__module__].__file__).relative_to(REPO), spec.fn.__name__)
        for name, spec in queries.items()
        if name not in required
        and fn_names.count(spec.fn.__name__) == 1
        and len(re.findall(rf"\b{spec.fn.__name__}\s*\(", sources)) == 1
    )
    assert _planned_touched("--cost", f"{rel}:{fn}") == _planned_touched() + 1
