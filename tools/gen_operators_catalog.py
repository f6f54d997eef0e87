"""Generate OPERATORS.md from the live registry (round-12 verdict #8).

The 343-op surface was previously discoverable only by reading the
registry modules; this emits one catalog row per registered op — id,
family (module), source location, oracle kind, one-line docstring shape,
and the latest scale-probe annotation — so a user of the engine can see
the whole query surface in one file.  The catalog is DERIVED, never
hand-edited: ``tests/test_registry.py`` asserts the file equals
:func:`render`'s text, so a new op or a moved op definition without a
regenerated catalog fails the suite.

Usage: python tools/gen_operators_catalog.py   (writes <repo>/OPERATORS.md)
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from build_pipeline_with_apache_beam_spark import registry  # noqa: E402


def _latest_scale_ops() -> tuple[str, dict]:
    """Newest SCALE_r<N>.json's per-op probe entries (ratio + annotation)."""
    cands = []
    for p in glob.glob(os.path.join(REPO, "SCALE_r*.json")):
        m = re.fullmatch(r"SCALE_r(\d+)\.json", os.path.basename(p))
        if m:
            cands.append((int(m.group(1)), p))
    if not cands:
        return "", {}
    _, path = max(cands)
    with open(path) as fh:
        return os.path.basename(path), json.load(fh).get("ops", {})


def _first_doc_line(fn) -> str:
    doc = inspect.getdoc(fn) or ""
    line = doc.split("\n\n")[0].replace("\n", " ").strip()
    line = re.sub(r"\s+", " ", line)
    return (line[:157] + "...") if len(line) > 160 else line


def _loc(fn) -> str:
    try:
        f = inspect.unwrap(fn)
        path = os.path.relpath(inspect.getsourcefile(f), REPO)
        return f"{path}:{inspect.getsourcelines(f)[1]}"
    except (TypeError, OSError):
        return "?"


def render() -> str:
    """The catalog's full text, from the live registry."""
    qs = registry.queries()
    # static SQL oracles vs call-time-built (dynamic) ones
    static = set()
    for mod in registry._modules():
        static |= set(mod.ORACLE)
    full = set(registry.oracle_sql())
    scale_src, scale_ops = _latest_scale_ops()

    def oracle_kind(op: str) -> str:
        if op in static:
            return "exact SQL"
        if op in full:
            return "dynamic SQL"
        return "rows-only"

    def scale_note(op: str) -> str:
        e = scale_ops.get(op)
        if not e:
            return ""
        note = f"{e['ratio']}x @10x data"
        if e.get("annotation"):
            note += f" — {e['annotation']}"
        return note

    fams: dict[str, list[str]] = {}
    for op, fn in qs.items():
        fam = inspect.unwrap(fn).__module__.rsplit(".", 1)[-1]
        fams.setdefault(fam, []).append(op)

    lines = [
        "# Operator catalog",
        "",
        "GENERATED — do not edit by hand.  Rebuild with "
        "`python tools/gen_operators_catalog.py`; "
        "`tests/test_registry.py::test_operators_catalog_in_sync` gates "
        "the catalog against the live registry.",
        "",
        f"**{len(qs)} operators** across {len(fams)} families; oracle "
        f"coverage {len(full & set(qs))}/{len(qs)} "
        "(every covered op is value-checked against DuckDB on the same "
        "parquet at the driver's correctness gate).  Scale notes quote "
        + (f"`{scale_src}`" if scale_src else "the latest scale probe")
        + " (wall ratio on 10x data at local[32]; annotated entries are "
        "deliberate, root-caused shapes).",
        "",
    ]
    for fam in sorted(fams):
        ops = sorted(fams[fam])
        lines += [f"## {fam} ({len(ops)})", "",
                  "| op | source | oracle | shape | scale note |",
                  "|---|---|---|---|---|"]
        for op in ops:
            fn = qs[op]
            doc = _first_doc_line(fn).replace("|", "\\|")
            note = scale_note(op).replace("|", "\\|")
            lines.append(f"| `{op}` | {_loc(fn)} | {oracle_kind(op)} "
                         f"| {doc} | {note} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    out = os.path.join(REPO, "OPERATORS.md")
    with open(out, "w") as fh:
        fh.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
