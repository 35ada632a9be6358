"""Fidelity test for the D4 feature-mapping port: an independent Python
transcription of udf_js/feature_mapping.sql is evaluated against the
Catalyst expression over a randomized corpus covering every rule constant
plus noise, in one Spark job."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from taipei_bi_etl_spark.feature_mapping import feature_mapping

PARTNERS = [
    "bukalapak", "flipkart", "liputan6", "gameloft", "atmegame",
    "gamezop", "frvr", "booking.com", "dailyhunt", "google",
]
CT_KEYS = ["feed", "source", "category", "component_id", "subcategory_id"]


# --- independent Python model of the JS (transcribed from
# /root/reference/udf_js/feature_mapping.sql) ---

def _browser(m, o, v, ek, ev, vert, se):
    f = []
    if m == "add" and o == "tab" and v in ("toolbar", "tab_tray"):
        f.append("feature: add_tab")
    if m == "change" and o == "tab":
        f.append("feature: change_tab")
    if m == "click" and o == "close_all" and v == "tab_tray":
        f.append("feature: close_all_tab")
    if m in ("remove", "swipe") and o == "tab" and v == "tab_tray":
        f.append("feature: remove_tab")
    if v == "block_image":
        f.append("feature: change_block_image")
    if m != "share" and v == "bookmark":
        f.append("feature: bookmark")
    if (m in ("click", "show") and v == "history") or (m == "open" and o == "panel" and v == "link"):
        f.append("feature: visit_history")
    if (m == "clear" and o == "panel" and v == "history") or (m == "remove" and o == "panel" and v == "link"):
        f.append("feature: clean_history")
    if v == "clear_cache":
        f.append("feature: clear_cache")
    if (m in ("change", "click") and o == "default_browser") or (
        m in ("change", "click") and "default_browser" in v
    ):
        f.append("feature: change_default_browser")
    if m in ("click", "change") and "save_downloads_to" in v:
        f.append("feature: settings_change_download_location")
    if "clear_browsing_data" in v:
        f.append("feature: settings_clear_browsing_data")
    if v == "pref_locale":
        f.append("feature: settings_change_locale")
    if o == "setting" and v == "telemetry":
        f.append("feature: settings_change_collection_telemetry")
    if m == "click" and o == "menu" and v == "settings":
        f.append("feature: visit_settings")
    if v == "download" or (m == "open" and o == "panel" and v == "file"):
        f.append("feature: visit_download")
    if m in ("remove", "delete") and o == "panel" and v == "file":
        f.append("feature: clean_download_file")
    if m == "click" and o == "menu" and v == "exit":
        f.append("feature: exit")
    if m == "click" and (o == "feedback" or "feedback" in v):
        f.append("feature: give_feedback")
    if o == "find_in_page" or v == "find_in_page":
        f.append("feature: find_in_page")
    if v == "forward":
        f.append("feature: forward_page")
    if v == "fullscreen":
        f.append("feature: fullscreen")
    if o == "landscape_mode":
        f.append("feature: landscape_mode")
    if m == "open" and o == "home" and v == "link":
        f.append("feature: visit_topsite")
    if m == "open" and o == "home" and v == "link" and ek == "source" and ev in PARTNERS:
        f.append("visit_topsite_source: " + ev)
        f.append("visit_topsite_partner: true")
    if m == "remove" and o == "home" and v == "link":
        f.append("feature: remove_topsite")
    if m == "change" and "night_mode" in v:
        f.append("feature: change_night_mode")
    if m == "pin_shortcut":
        f.append("feature: pin_shortcut")
    if (m != "show" and "private_" in o) or (m not in ("show", "launch") and "private_" in v):
        f.append("feature: private_mode")
    if v == "reload_page":
        f.append("feature: reload_page")
    if m != "share" and (o == "capture" or v == "capture"):
        f.append("feature: screenshot")
    if o == "browser_contextmenu" or (m == "long_press" and o == "browser"):
        f.append("feature: browse")
    if (m in ("show", "cancel", "clear") and o == "search_bar" and v != "content_home") or (
        m == "long_press" and o == "search_suggestion"
    ):
        f.append("feature: pre_search")
    if (
        (m in ("type_query", "select_query") and o == "search_bar")
        or (m == "click" and o == "quicksearch")
        or (m == "open" and o == "search_bar" and v == "link")
    ):
        f.append("feature: search")
    if m in ("type_query", "select_query") and o == "search_bar" and se in ("google", ""):
        f += ["search_source: google", "search_feed: google", "search_partner: true"]
    if m in ("type_query", "select_query") and o == "search_bar":
        f.append("tags: keyword_search")
    if m == "click" and o == "quicksearch":
        f.append("tags: quicksearch")
    if m == "click" and o == "quicksearch" and ek == "engine" and ev in PARTNERS:
        f += ["quicksearch_source: " + ev, "quicksearch_partner: true"]
    if m == "open" and o == "search_bar" and ek == "link":
        f.append("tags: url_search")
    if m in ("change", "click") and o == "setting" and v == "search_engine":
        f.append("feature: settings_change_search_engine")
    if m == "share" or (o == "setting" and "share_with_friends" in v):
        f.append("feature: share")
    if o == "themetoy":
        f.append("feature: themetoy")
    if m == "change" and "turbo" in v:
        f.append("feature: change_turbo_mode")
    if (m == "click" and "vpn" in o and v == "positive") or (m == "click" and "vpn" in v):
        f.append("feature: vpn")
    if m == "click" and o == "setting" and v == "learn_more":
        f.append("feature: settings_learn_more")
    if m == "launch" and o == "app":
        f.append("feature: launch_app")
    if m == "launch" and o == "app" and v == "external_app":
        f.append("tags: launch_app_from_external")
    if m == "launch" and o == "app" and v == "launcher":
        f.append("tags: launch_app_from_launcher")
    if m == "launch" and o == "app" and v in ("shortcut", "private_mode", "game_shortcut"):
        f.append("tags: launch_app_from_shortcut")
    if vert == "all":
        f.append("tags: browser_vertical")
    return f


def _content_block(m, o, v, ek, ev, vert, name):
    f = []
    if o == "content_hub" and vert == name:
        f.append(f"feature: visit_{name}_content_hub")
    if m == "open" and o == "category" and vert == name:
        f.append(f"feature: open_category_{name}")
    if m == "open" and o == "category" and vert == name and ek == "category":
        f.append(f"tags: open_category_{name}_" + ev)
    if o == "content_tab" and vert == name:
        f.append(f"feature: visit_{name}_content_tab")
    if o == "content_tab" and vert == name and ek in CT_KEYS:
        f.append(f"visit_{name}_content_tab_" + ek + ": " + ev)
    if o == "content_tab" and vert == name and ek == "source" and ev in PARTNERS:
        f.append(f"visit_{name}_content_tab_partner: true")
    return f


def _toolbar_block(m, o, v, ek, ev, vert, name):
    f = []
    if m == "click" and o == "toolbar" and vert == name:
        f.append(f"feature: {name}_toolbar")
    if m == "click" and o == "toolbar" and v in ("share", "reload", "back", "close") and vert == name:
        f.append(f"tags: {name}_toolbar_" + ev)  # extra_value, per the JS
    if m == "click" and o == "toolbar" and v == "share" and vert == name and ek in CT_KEYS:
        f.append(f"{name}_toolbar_share_" + ek + ": " + ev)
    if m == "click" and o == "toolbar" and v == "share" and vert == name and ek == "source" and ev in PARTNERS:
        f.append(f"{name}_toolbar_share_partner: true")
    return f


def _shopping(m, o, v, ek, ev, vert, se):
    f = []
    if v == "lifefeed_ec":
        f += ["feature: lifefeed", "category: e_ticket"]
    if m == "click" and v == "lifefeed_ec" and ek == "category":
        f += ["component_type_id: 9", "tags: " + ev]
    if m == "click" and v == "lifefeed_ec" and ek == "source":
        f += ["component_type_id: 9", "lifefeed_ec_feed: " + ev, "lifefeed_ec_source: " + ev]
    if m == "click" and v == "lifefeed_ec" and ek == "source" and ev in PARTNERS:
        f.append("lifefeed_ec_partner: true")
    if v == "lifefeed_promo":
        f += ["feature: lifefeed", "category: coupon"]
    if m == "click" and v == "lifefeed_promo" and ek == "feed" and ev == "list":
        f.append("component_type_id: 7")
    if m == "click" and v == "lifefeed_promo" and ek == "feed" and ev == "banner":
        f.append("component_type_id: 6")
    if m == "click" and v == "lifefeed_promo" and ek == "source":
        f += ["lifefeed_promo_feed: " + ev, "lifefeed_promo_source: " + ev]
    if m == "click" and v == "lifefeed_promo" and ek == "subcategory":
        f.append("tags: " + ev)
    if m == "click" and v == "lifefeed_promo" and ek == "source" and ev in PARTNERS:
        f.append("lifefeed_promo_partner: true")
    if m in ("click", "start", "end", "clear") and ("tab_swipe" in v or o == "tab_swipe") and vert == "shopping":
        f.append("feature: tab_swipe")
    if m == "end" and o == "tab_swipe" and ek == "feed":
        f.append("tab_swipe_feed: " + ev)
    if m == "end" and o == "tab_swipe" and ek == "source":
        f.append("tab_swipe_source: " + ev)
    if m == "end" and o == "tab_swipe" and ek == "source" and ev in PARTNERS:
        f.append("tab_swipe_partner: true")
    if m == "change" and o == "setting" and v == "tab_swipe":
        f.append("tags: change_tab_swipe_settings")
    f += _content_block(m, o, v, ek, ev, vert, "shopping")
    f += _toolbar_block(m, o, v, ek, ev, vert, "shopping")
    if vert == "shopping":
        f.append("tags: shopping_vertical")
    return f


def _lifestyle(m, o, v, ek, ev, vert, se):
    f = []
    if v == "lifefeed_news":
        f.append("feature: lifefeed_news")
    if m == "open" and v == "lifefeed_news" and ek == "category":
        f.append("category: " + ev)
    if m == "click" and o == "panel" and v == "lifefeed_news" and ek == "feed":
        f += ["component_type_id: 7", "lifefeed_news_feed: " + ev]
    if m == "click" and o == "panel" and v == "lifefeed_news" and ek == "source":
        f += ["component_type_id: 7", "lifefeed_news_source: " + ev]
    if m == "click" and o == "panel" and v == "lifefeed_news" and ek == "feed" and ev in PARTNERS:
        f.append("lifefeed_news_partner: true")
    f += _content_block(m, o, v, ek, ev, vert, "lifestyle")
    f += _toolbar_block(m, o, v, ek, ev, vert, "lifestyle")
    if vert == "lifestyle":
        f.append("tags: lifestyle_vertical")
    return f


def _game(m, o, v, ek, ev, vert, se):
    f = _content_block(m, o, v, ek, ev, vert, "game")
    if vert == "game":
        f.append("tags: game_vertical")
    return f


def _travel(m, o, v, ek, ev, vert, se):
    f = _content_block(m, o, v, ek, ev, vert, "travel")
    if m == "show" and o == "search_bar" and v == "content_home" and vert == "travel":
        f.append("feature: travel_pre_search")
    if m == "select_query" and o == "search_bar" and v == "content_home" and vert == "travel":
        f.append("feature: travel_search")
    if m == "select_query" and o == "search_bar" and v == "content_home" and vert == "travel" and ek == "source":
        f.append("travel_search_source: " + ev)
    if m == "click" and o == "content_home" and v == "item" and vert == "travel":
        f.append("feature: travel_visit_home_item")
    if m == "click" and o == "content_home" and v == "item" and vert == "travel" and ek in (
        "category", "item_name", "item_id",
    ):
        f.append("travel_visit_home_item_" + ek + ": " + ev)
    if m == "open" and o == "detail_page" and v == "more" and vert == "travel":
        f.append("feature: travel_open_home_more")
    if m == "open" and o == "detail_page" and v == "more" and vert == "travel" and ek in (
        "category", "subcategory_id", "item_name", "item_id",
    ):
        f.append("travel_open_home_more_" + ek + ": " + ev)
    f += _toolbar_block(m, o, v, ek, ev, vert, "travel")
    if m == "change" and o == "setting" and v in ("detail_page", "content_home") and vert == "travel":
        f.append("feature: change_travel_settings")
    if (
        m == "change" and o == "setting" and v in ("detail_page", "content_home")
        and vert == "travel" and ek == "action"
    ):
        f.append("tags: change_travel_settings_" + ev)
    if vert == "travel":
        f.append("tags: travel_vertical")
    return f


def py_feature_mapping(m, o, v, ek, ev, vert, se):
    for fn, name in (
        (_browser, "Browser"), (_shopping, "Shopping"), (_lifestyle, "Lifestyle"),
        (_game, "Game"), (_travel, "Travel"),
    ):
        # NB: _travel also appends travel rules reused in _shopping?  No —
        # each rule-set guards on its own vertical; cascade order matters
        # only for events matching multiple sets (e.g. browser + vertical
        # tags), which the JS resolves first-match-wins.
        f = fn(m, o, v, ek, ev, vert, se)
        if f:
            return f, name, "App"
    return ["feature: others"], "Others", "Others"


METHODS = ["add", "change", "click", "remove", "swipe", "share", "clear", "open",
           "show", "cancel", "long_press", "type_query", "select_query", "launch",
           "pin_shortcut", "delete", "start", "end", "zzz", ""]
OBJECTS = ["tab", "close_all", "panel", "default_browser", "setting", "menu",
           "feedback", "find_in_page", "landscape_mode", "home", "capture",
           "browser_contextmenu", "browser", "search_bar", "search_suggestion",
           "quicksearch", "themetoy", "my_vpn_x", "app", "tab_swipe",
           "content_hub", "category", "content_tab", "toolbar", "detail_page",
           "content_home", "private_home", "zzz", ""]
VALUES = ["toolbar", "tab_tray", "block_image", "bookmark", "history", "link",
          "clear_cache", "x_default_browser", "save_downloads_to_sd",
          "clear_browsing_data", "pref_locale", "telemetry", "settings",
          "download", "file", "exit", "x_feedback", "find_in_page", "forward",
          "fullscreen", "night_mode_on", "private_x", "reload_page", "capture",
          "content_home", "search_engine", "share_with_friends_x", "turbo_on",
          "vpn_pro", "positive", "learn_more", "external_app", "launcher",
          "shortcut", "private_mode", "game_shortcut", "lifefeed_ec",
          "lifefeed_promo", "lifefeed_news", "tab_swipe", "x_tab_swipe",
          "share", "reload", "back", "close", "item", "more", "detail_page",
          "zzz", ""]
EXTRA_KEYS = ["source", "engine", "link", "category", "feed", "subcategory",
              "component_id", "subcategory_id", "item_name", "item_id",
              "action", "zzz", ""]
EXTRA_VALUES = ["bukalapak", "google", "frvr", "list", "banner", "zzz", ""]
VERTICALS = ["all", "shopping", "lifestyle", "game", "travel", "zzz", ""]
ENGINES = ["google", "", "bing"]


def test_feature_mapping_matches_python_model(spark):
    rng = random.Random(42)
    rows = [
        (
            rng.choice(METHODS), rng.choice(OBJECTS), rng.choice(VALUES),
            rng.choice(EXTRA_KEYS), rng.choice(EXTRA_VALUES),
            rng.choice(VERTICALS), rng.choice(ENGINES),
        )
        for _ in range(4000)
    ]
    cols = ["m", "o", "v", "ek", "ev", "vert", "se"]
    df = spark.createDataFrame(rows, cols)
    out = df.select(
        *cols,
        feature_mapping(*[F.col(c) for c in cols]).alias("map"),
    ).collect()
    n_nontrivial = 0
    for r in out:
        exp_f, exp_v, exp_a = py_feature_mapping(r.m, r.o, r.v, r.ek, r.ev, r.vert, r.se)
        got = r.map
        assert got.feature == exp_f, (
            f"feature mismatch for {tuple(r[:7])}: spark={got.feature} py={exp_f}"
        )
        assert got.vertical == exp_v and got.app == exp_a, tuple(r[:7])
        if exp_v != "Others":
            n_nontrivial += 1
    # corpus sanity: a good share of rows must exercise real rules
    assert n_nontrivial > 500, n_nontrivial


def _checklist_tool():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import feature_rule_checklist

    return feature_rule_checklist


def test_rule_checklist_is_exhaustive_both_directions():
    """VERDICT r01 #6: every feature.push site in the reference JS
    (131 sites) maps to a rule item emitting the same template, and no
    repo rule item lacks a JS site — mechanical completeness, not
    author-shared transcription.  The sites are the committed
    FEATURE_RULES.md list, generated from the reference JS; its table is
    never hand-edited and changes only through ``--write`` with the live
    JS.  Where the reference checkout is present the live extraction
    must equal the committed list, so the list of record cannot go
    stale."""
    from pathlib import Path

    tool = _checklist_tool()
    rows, unmatched_js, unmatched_rules = tool.build_checklist()
    assert len(rows) == 131
    assert unmatched_js == []
    assert unmatched_rules == []
    if Path(tool.JS_PATH).exists():
        assert tool.js_push_sites() == tool.committed_push_sites()


def test_committed_site_list_is_the_generated_one():
    """The JS-side columns of FEATURE_RULES.md (line, vertical,
    template) still equal the list generated from the reference JS, so a
    hand edit that changes a template in both the table and
    feature_mapping.py is caught without the reference checkout."""
    import hashlib

    tool = _checklist_tool()
    sites = tool.committed_push_sites()
    listing = "\n".join(f"{line}\t{vert}\t{tmpl}" for line, vert, tmpl in sites)
    # sha256 of the site list parsed from FEATURE_RULES.md as generated
    # from udf_js/feature_mapping.sql in commit 1c12bef; it comes from
    # the reference, not from the program.  Update it only together with
    # a `--write` run against the live reference JS.
    assert hashlib.sha256(listing.encode()).hexdigest() == (
        "16a0650289ce8a759cd2c214545c5d7bf3f23a83d1733c16cc4b1738c73a66c3"
    )


def test_committed_site_list_loses_no_row(tmp_path):
    """Deleting one site row from FEATURE_RULES.md is caught twice over:
    the parser refuses a count that disagrees with the header, and with
    the header edited to match, the orphaned rule item surfaces."""
    import pytest

    tool = _checklist_tool()
    lines = tool.RULES_MD.read_text().split("\n")
    cut = next(i for i, l in enumerate(lines) if "`feature: bookmark`" in l)
    del lines[cut]
    md = tmp_path / "FEATURE_RULES.md"
    md.write_text("\n".join(lines))
    with pytest.raises(ValueError, match="header records 131"):
        tool.committed_push_sites(md)

    md.write_text(
        "\n".join(lines).replace("JS push sites: 131 ", "JS push sites: 130 ")
    )
    rows, unmatched_js, unmatched_rules = tool.build_checklist(
        tool.committed_push_sites(md)
    )
    assert len(rows) == 130 and unmatched_js == []
    assert [(v, t) for v, t, _ in unmatched_rules] == [
        ("Browser", "feature: bookmark")
    ]


def test_rule_checklist_catches_a_changed_item_template(monkeypatch):
    """A rule item whose template drifts from its push site leaves that
    site and that item unmatched."""
    import taipei_bi_etl_spark.feature_mapping as fm

    tool = _checklist_tool()
    inv = fm.rule_inventory()
    vert, ridx, items = inv[5]
    inv[5] = (vert, ridx, (items[0] + "_x",) + items[1:])
    monkeypatch.setattr(fm, "rule_inventory", lambda: inv)
    rows, unmatched_js, unmatched_rules = tool.build_checklist(
        tool.committed_push_sites()
    )
    assert len(rows) == 130
    assert [(v, t) for _, v, t in unmatched_js] == [(vert, items[0])]
    assert [(v, t) for v, t, _ in unmatched_rules] == [(vert, items[0] + "_x")]


def test_render_refuses_without_live_js(monkeypatch, tmp_path):
    """FEATURE_RULES.md is never rebuilt from its own table."""
    import pytest

    tool = _checklist_tool()
    monkeypatch.setattr(tool, "JS_PATH", str(tmp_path / "absent.sql"))
    with pytest.raises(FileNotFoundError, match="never from its own"):
        tool.render()


def test_mapped_compile_equals_column_compile(spark):
    """feature_mapping_mapped (atomized two-projection compile) must be
    row-identical to the single-Column compile over the same randomized
    corpus — guards the atom-registry rewrite against any predicate
    being registered under the wrong key or decayed to the wrong
    value-context column."""
    from taipei_bi_etl_spark.feature_mapping import feature_mapping_mapped

    rng = random.Random(271828)
    rows = [
        (
            rng.choice(METHODS), rng.choice(OBJECTS), rng.choice(VALUES),
            rng.choice(EXTRA_KEYS), rng.choice(EXTRA_VALUES),
            rng.choice(VERTICALS), rng.choice(ENGINES),
        )
        for _ in range(4000)
    ]
    # NULL inputs too: the dict-encoded atoms must stay three-valued
    # exactly like their string forms (NULL encodes to NULL, not OOV)
    rows += [
        tuple(None if rng.random() < 0.3 else x for x in r)
        for r in rows[:500]
    ]
    cols = ["m", "o", "v", "ek", "ev", "vert", "se"]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
    a = df.select(
        *cols, feature_mapping(*[F.col(c) for c in cols]).alias("map")
    ).collect()
    b = feature_mapping_mapped(
        df,
        out="map",
        event_method="m", event_object="o", event_value="v",
        extra_key="ek", extra_value="ev", event_vertical="vert",
        settings_search_engine="se",
    ).select(*cols, "map").collect()
    assert sorted(map(tuple, a), key=repr) == sorted(map(tuple, b), key=repr)

    # staged cascade compile (r05 codegen experiment — measured wash,
    # kept as the documented variant): must stay row-identical too
    from taipei_bi_etl_spark.feature_mapping import feature_mapping_staged

    c = feature_mapping_staged(
        df,
        out="map",
        event_method="m", event_object="o", event_value="v",
        extra_key="ek", extra_value="ev", event_vertical="vert",
        settings_search_engine="se",
    ).select(*cols, "map").collect()
    assert sorted(map(tuple, a), key=repr) == sorted(map(tuple, c), key=repr)

    # lambda-free compile (r07 codegen experiment — array_compact's
    # filter-lambda rewrite is CodegenFallback, excluding the cascade
    # projection from WSCG; this variant removes every higher-order
    # function): must stay row-identical too
    from taipei_bi_etl_spark.feature_mapping import feature_mapping_nolambda

    d = feature_mapping_nolambda(
        df,
        out="map",
        event_method="m", event_object="o", event_value="v",
        extra_key="ek", extra_value="ev", event_vertical="vert",
        settings_search_engine="se",
    ).select(*cols, "map").collect()
    assert sorted(map(tuple, a), key=repr) == sorted(map(tuple, d), key=repr)


def test_null_inputs_agree_with_sql_twin(spark):
    """r03 ADVICE #2 regression: a FIRED rule whose item expression
    evaluates NULL (e.g. `cat('tags: ...', ev)` with ev NULL) must keep
    its slot — coalesced to '' — identically in the Catalyst compile
    and the DuckDB compile, so standalone feature_mapping over nullable
    columns cannot fall through to a later vertical in one engine only."""
    import duckdb

    from taipei_bi_etl_spark.feature_mapping import feature_mapping_sql

    rows = [
        # fired content-vertical rule with NULL ev → item '' in both
        ("open", "category", "x", "category", None, "game", None),
        # fired toolbar rule with NULL ev
        ("click", "toolbar", "share", "zzz", None, "shopping", None),
        # NULLs in condition columns → rule simply not fired, both engines
        (None, "tab", None, None, None, None, None),
        ("add", "tab", "toolbar", None, None, "all", None),
        # partner IN-list with NULL ev → not fired in both
        ("open", "home", "link", "source", None, "all", None),
        # all-null row → Others fallback
        (None, None, None, None, None, None, None),
    ]
    cols = ["m", "o", "v", "ek", "ev", "vert", "se"]
    df = spark.createDataFrame(
        rows, ", ".join(f"{c} string" for c in cols)
    )
    got = {
        tuple("" if x is None else x for x in r[:7]): (
            list(r.map.feature), r.map.vertical
        )
        for r in df.select(
            *cols, feature_mapping(*[F.col(c) for c in cols]).alias("map")
        ).collect()
    }

    fm = feature_mapping_sql(
        event_method="m", event_object="o", event_value="v",
        extra_key="ek", extra_value="ev", event_vertical="vert",
        settings_search_engine="se",
    )
    lists = ", ".join(f"{sql} AS l_{n.lower()}" for n, sql in fm.items())
    cascade = " ".join(
        f"WHEN len(l_{n.lower()}) > 0 THEN l_{n.lower()}" for n in fm
    )
    vert_case = " ".join(
        f"WHEN len(l_{n.lower()}) > 0 THEN '{n}'" for n in fm
    )
    values = ", ".join(
        "(" + ", ".join("NULL" if x is None else f"'{x}'" for x in r) + ")"
        for r in rows
    )
    con = duckdb.connect()
    out = con.execute(
        f"""
        WITH t(m, o, v, ek, ev, vert, se) AS (VALUES {values}),
        l AS (SELECT *, {lists} FROM t)
        SELECT COALESCE(m,''), COALESCE(o,''), COALESCE(v,''),
               COALESCE(ek,''), COALESCE(ev,''), COALESCE(vert,''),
               COALESCE(se,''),
               CASE {cascade} ELSE ['feature: others'] END,
               CASE {vert_case} ELSE 'Others' END
        FROM l
        """
    ).fetchall()
    con.close()
    want = {tuple(r[:7]): (list(r[7]), r[8]) for r in out}
    assert got == want
