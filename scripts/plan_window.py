#!/usr/bin/env python
"""Generate the driver window, ``_DRIVER_WINDOW`` in the package
``__init__.py``.

The window contract (see tests/test_window_rotation.py): every query
whose backing module — or underlying api.py function — changed since the
last ``round N:`` boundary commit must sit inside the first
``DRIVER_WINDOW`` registry slots; remaining slots go to the queries with
the OLDEST last driver-green CORRECTNESS row. To regenerate the window,
paste the tuple this script prints over the old one:

    python scripts/plan_window.py            # print the plan
    python scripts/plan_window.py --tuple    # ready-to-paste _DRIVER_WINDOW
    python scripts/plan_window.py --cost path.py:function ...

``--cost`` plans the window as if each named function were also edited
(``path.py`` relative to the repo root or the package; ``Class.method``
names a method): the names seed the same dirty-code fixpoint a real
diff does. Run it before writing a change to learn its slot cost up
front.

Output sections:
  touched   — queries the rotation test will REQUIRE in the window
  fill      — oldest-green fill, in rotation order, up to DRIVER_WINDOW
  overflow  — touched queries that do NOT fit (the rotation test fails;
              exit status 1)

The summary line reports ``free`` = window − touched, the slots a change
may still spend on touched queries before the window overflows.

The generator reuses the same git/module/api mapping as the enforcing
test, so "plan_window says it fits" and "the test passes" cannot drift
apart.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.test_window_rotation import (  # noqa: E402
    _round_boundary,
    _top_level_bindings,
    _top_level_functions,
    dirty_query_names,
    never_driver_checked,
)

PKG = "dicebox_sensorybatchprocessor_spark"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_green_rounds() -> dict[str, int]:
    """query -> highest round with a rows+schema-matching driver row."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for name, v in data.items():
            if isinstance(v, dict) and v.get("rows_match") and v.get("schema_match"):
                last[name] = max(last.get(name, 0), rnd)
    return last


def cost_seeds(targets: list[str]) -> set[tuple[str, str]]:
    """``path.py:function`` targets as ``(rel, name)`` seeds of
    :func:`dirty_query_names`."""
    seeds = set()
    for target in targets:
        rel, _, name = target.partition(":")
        if not os.path.exists(os.path.join(REPO, rel)):
            rel = f"{PKG}/{rel}"
        top = name.partition(".")[0]
        if top not in _top_level_functions(rel) and top not in _top_level_bindings(rel):
            raise SystemExit(f"--cost: no function {name!r} in {rel}")
        seeds.add((rel, name))
    return seeds


def main() -> None:
    import importlib

    targets = []
    if "--cost" in sys.argv:
        targets = [a for a in sys.argv[sys.argv.index("--cost") + 1 :] if not a.startswith("--")]
    extra = cost_seeds(targets)
    if targets:
        print(f"# cost of editing {len(targets)} function(s): {' '.join(targets)}")

    eng = importlib.import_module(PKG)
    queries = eng.all_queries()
    window_n = eng.DRIVER_WINDOW

    boundary = _round_boundary()
    required = dirty_query_names(boundary, queries, extra) if boundary else {}
    for name in never_driver_checked(queries):
        required.setdefault(name, "never driver-checked (new query)")
    touched = [n for n in queries if n in required]

    last = last_green_rounds()
    backlog = sorted(
        (n for n in queries if n not in touched),
        key=lambda n: (last.get(n, -1), list(queries).index(n)),
    )

    in_window_touched = touched[:window_n]
    overflow = touched[window_n:]
    fill = backlog[: max(0, window_n - len(in_window_touched))]

    print(f"# boundary: {boundary[:9] if boundary else 'none'}; "
          f"window={window_n}; touched={len(touched)}; fill={len(fill)}; "
          f"free={window_n - len(touched)}")
    if overflow:
        print(f"# !! OVERFLOW ({len(overflow)}): {overflow}")
        print("# split the change — the rotation test WILL fail")
    if "--tuple" in sys.argv:
        print("_DRIVER_WINDOW = (")
        print("    # touched since the last `round N:` commit (required)")
        for n in in_window_touched:
            print(f'    "{n}",')
        print("    # oldest driver-green fill")
        for n in fill:
            print(f'    "{n}",  # last green r{last.get(n, 0)}')
        print(")")
    else:
        print("touched (required in window):")
        for n in in_window_touched:
            print(f"  {n}")
        print("fill (oldest green first):")
        for n in fill:
            print(f"  {n}  (last green r{last.get(n, 0)})")
    sys.exit(1 if overflow else 0)


if __name__ == "__main__":
    main()
