"""Generate FEATURE_RULES.md — the mechanical completeness checklist
mapping every ``feature.push`` site in the reference's
`udf_js/feature_mapping.sql` (131 sites) to the rule that emits the
same feature template in `taipei_bi_etl_spark/feature_mapping.py`
(VERDICT r01 #6: the randomized dual-transcription test is strong, but
both transcriptions share an author — this artifact makes completeness
checkable line by line).

``build_checklist()`` matches the push sites parsed from the JS-side
columns (line, vertical, template) of FEATURE_RULES.md against the
rules: the committed table is the push-site list of record when the
reference checkout is absent.  Where the checkout is present, the test
suite asserts that the live extraction equals that list.  The table is
never hand-edited: ``--write`` regenerates FEATURE_RULES.md from the
live JS only, never from its own table.

Usage: python tools/feature_rule_checklist.py [--write]
"""

from __future__ import annotations

import re
import sys
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

JS_PATH = "/root/reference/udf_js/feature_mapping.sql"
RULES_MD = REPO / "FEATURE_RULES.md"

# JS function name → repo vertical name
_JS_VERTICALS = (
    ("do_browser", "Browser"),
    ("do_shopping", "Shopping"),
    ("do_lifestyle", "Lifestyle"),
    ("do_game", "Game"),
    ("do_travel", "Travel"),
)

_PUSH_RE = re.compile(r"feature\.push\((.+)\);")
_CONCAT_RE = re.compile(r"\.concat\(([^)]*)\)")

# FEATURE_RULES.md: header count, matched table rows, unmatched JS sites
_MD_COUNT_RE = re.compile(r"^JS push sites: (\d+) ")
_MD_ROW_RE = re.compile(
    r"^\| udf_js/feature_mapping\.sql:(\d+) \| (\w+) \| `(.*)` \|"
    r" [^|]* \| [^|]* \|$"
)
_MD_UNMATCHED_RE = re.compile(r"^- line (\d+): (\w+) `(.*)`$")


def _js_template(expr: str) -> str:
    """'lit'.concat(extra_key).concat(': ').concat(extra_value) →
    'lit{extra_key}: {extra_value}'."""
    m = re.match(r"^'([^']*)'", expr)
    out = [m.group(1)]
    for part in _CONCAT_RE.findall(expr):
        part = part.strip()
        if part.startswith("'") and part.endswith("'"):
            out.append(part[1:-1])
        else:
            out.append("{" + part + "}")
    return "".join(out)


def js_push_sites() -> list[tuple[int, str, str]]:
    """(line_no, vertical, template) for every feature.push in the JS."""
    text = Path(JS_PATH).read_text()
    lines = text.split("\n")
    bounds = []
    for fn, vert in _JS_VERTICALS:
        for i, line in enumerate(lines):
            if f"function {fn}()" in line:
                bounds.append((i + 1, vert))
                break
    bounds.sort()

    def vertical_of(lineno: int) -> str:
        out = "?"
        for start, vert in bounds:
            if lineno >= start:
                out = vert
        return out

    sites = []
    for i, line in enumerate(lines, start=1):
        m = _PUSH_RE.search(line)
        if m:
            sites.append((i, vertical_of(i), _js_template(m.group(1))))
    return sites


def committed_push_sites(path: Path = RULES_MD) -> list[tuple[int, str, str]]:
    """(line_no, vertical, template) for every push site recorded in
    FEATURE_RULES.md: the matched table rows plus the UNMATCHED JS SITES
    entries.  Only the JS-side columns are read; the rule/item columns
    came from the program and are not trusted.  Raises ValueError unless
    the number read equals the header's ``JS push sites: N``."""
    expected, sites, section = None, [], None
    for line in Path(path).read_text().split("\n"):
        if line.startswith("## "):
            section = line[3:].strip()
        elif (m := _MD_COUNT_RE.match(line)) and expected is None:
            expected = int(m.group(1))
        elif section is None and (m := _MD_ROW_RE.match(line)):
            sites.append((int(m.group(1)), m.group(2), m.group(3)))
        elif section == "UNMATCHED JS SITES" and (
            m := _MD_UNMATCHED_RE.match(line)
        ):
            sites.append((int(m.group(1)), m.group(2), m.group(3)))
    if expected is None:
        raise ValueError(f"{path}: no 'JS push sites: N' header line")
    if len(sites) != expected:
        raise ValueError(
            f"{path}: header records {expected} JS push sites but "
            f"{len(sites)} site lines were parsed"
        )
    return sorted(sites)


def build_checklist(sites=None):
    """Match push sites (default: the committed FEATURE_RULES.md list) to
    rule items."""
    from taipei_bi_etl_spark.feature_mapping import rule_inventory

    if sites is None:
        sites = committed_push_sites()
    inv = rule_inventory()
    # (vertical, template) → [(rule_idx, item_idx)]
    rule_slots: dict[tuple[str, str], list[tuple[int, int]]] = defaultdict(list)
    for vert, ridx, items in inv:
        for iidx, tmpl in enumerate(items):
            rule_slots[(vert, tmpl)].append((ridx, iidx))

    rows, unmatched_js = [], []
    used: dict[tuple[str, str], int] = defaultdict(int)
    for lineno, vert, tmpl in sites:
        slots = rule_slots.get((vert, tmpl), [])
        k = used[(vert, tmpl)]
        if k < len(slots):
            ridx, iidx = slots[k]
            used[(vert, tmpl)] += 1
            rows.append((lineno, vert, tmpl, ridx, iidx))
        else:
            unmatched_js.append((lineno, vert, tmpl))
    unmatched_rules = [
        (vert, tmpl, slot)
        for (vert, tmpl), slots in rule_slots.items()
        for slot in slots[used[(vert, tmpl)]:]
    ]
    return rows, unmatched_js, unmatched_rules


def render() -> str:
    if not Path(JS_PATH).exists():
        raise FileNotFoundError(
            f"{JS_PATH} is absent: FEATURE_RULES.md is regenerated only "
            "from the live reference JS, never from its own committed table"
        )
    rows, unmatched_js, unmatched_rules = build_checklist(js_push_sites())
    out = [
        "# FEATURE_RULES — push-site ↔ rule checklist",
        "",
        "Machine-generated by `tools/feature_rule_checklist.py`; regenerate",
        "after editing `taipei_bi_etl_spark/feature_mapping.py`.  Every",
        "`feature.push` site in the reference's",
        "`udf_js/feature_mapping.sql` maps to the rule item emitting the",
        "same template; `tests/test_feature_mapping.py` asserts both",
        "directions are exhaustive.  The committed table is the push-site",
        "list of record when the reference checkout is absent.  Do not",
        "hand-edit the table: it changes only through `--write` with the",
        "live reference JS.",
        "",
        f"JS push sites: {len(rows) + len(unmatched_js)} · "
        f"matched: {len(rows)} · unmatched JS: {len(unmatched_js)} · "
        f"unmatched repo items: {len(unmatched_rules)}",
        "",
        "| JS line | Vertical | Feature template | Rule # | Item # |",
        "|---|---|---|---|---|",
    ]
    for lineno, vert, tmpl, ridx, iidx in rows:
        out.append(
            f"| udf_js/feature_mapping.sql:{lineno} | {vert} "
            f"| `{tmpl}` | {ridx} | {iidx} |"
        )
    if unmatched_js:
        out += ["", "## UNMATCHED JS SITES", ""]
        out += [f"- line {l}: {v} `{t}`" for l, v, t in unmatched_js]
    if unmatched_rules:
        out += ["", "## REPO ITEMS WITH NO JS SITE", ""]
        out += [f"- {v} `{t}` rule slot {s}" for v, t, s in unmatched_rules]
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    if "--write" in sys.argv:
        try:
            RULES_MD.write_text(render())
        except FileNotFoundError as e:
            sys.exit(f"refusing --write: {e}")
        print("wrote FEATURE_RULES.md")
    rows, uj, ur = build_checklist()
    print(f"matched={len(rows)} unmatched_js={len(uj)} unmatched_rules={len(ur)}")
    for x in uj[:10]:
        print("JS-only:", x)
    for x in ur[:10]:
        print("repo-only:", x)
