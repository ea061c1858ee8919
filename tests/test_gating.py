"""gate_order tiering pins (VERDICT r13 #1).

The r13 failure mode: a metadata edit to queries_registry.py — a file
in EVERY entry's import closure — marked all 250 entries "this-round
changed", so gate_order degenerated to oldest-gate-first and the
entries whose behavior actually changed that round missed the driver's
~50-entry gate. Two defenses are pinned here:

1. the taxonomy module is OUTSIDE every entry's dep closure, so
   metadata edits there never mark anything stale;
2. gate_order ranks the stale tier by direct-vs-closure change: own
   (non-universal) dep edits outrank promotion via a universally
   imported module, at both this-round and since-own-gate horizons.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__  # noqa: F401  (fills the registry)
from milan_telecom_etl__spark import gating
from milan_telecom_etl__spark.gating import (
    entry_dep_files,
    gate_order,
    universal_dep_files,
)
from milan_telecom_etl__spark.queries_registry import QUERIES

_REG = "milan_telecom_etl__spark/queries_registry.py"
_TAX = "milan_telecom_etl__spark/taxonomy.py"


def test_taxonomy_is_outside_every_entry_closure():
    offenders = [
        name for name, fn in QUERIES.items() if _TAX in entry_dep_files(fn)
    ]
    assert not offenders, (
        f"taxonomy.py imported into entry closures {offenders[:5]} — "
        "metadata edits there would mark those entries stale (r13 #1)"
    )


def test_universal_closure_contains_registry_hub():
    universal = universal_dep_files(QUERIES)
    assert _REG in universal
    # and it must NOT swallow per-family implementation modules
    assert "milan_telecom_etl__spark/registry_text.py" not in universal
    assert "milan_telecom_etl__spark/operators/similarity.py" not in universal


def _fake_env(monkeypatch, gates, latest_sha, changed_map):
    # swap (don't clear) the memo: monkeypatch restores the real one,
    # so fake-env orderings can't leak into later real queries() calls
    monkeypatch.setattr(gating, "_GATE_ORDER_MEMO", {})
    monkeypatch.setattr(gating, "load_gates", lambda: gates)
    monkeypatch.setattr(gating, "_latest_round_sha", lambda: latest_sha)
    monkeypatch.setattr(
        gating, "_changed_since", lambda sha: changed_map.get(sha)
    )


def _pick(module_tail: str) -> str:
    for name, fn in QUERIES.items():
        if fn.__module__.endswith(module_tail):
            return name
    raise AssertionError(f"no registry entry from {module_tail}")


def test_taxonomy_only_edit_puts_behavior_changed_entries_first(monkeypatch):
    """Synthetic r13 scenario: this round edits ONLY the universal hub
    (queries_registry.py). One entry's own module was edited in a prior
    round after its gate — it must outrank the closure-only crowd even
    though every entry's closure intersects the edit."""
    flagship = _pick("registry_text")
    own_file = "milan_telecom_etl__spark/registry_text.py"
    gates = {
        name: {"sha": ("old-" + name if name == flagship else "old"), "round": 5}
        for name in QUERIES
    }
    # make the flagship's gate OLDER-ranked NOT by round (same round for
    # all) — ranking must come from the direct-change tier alone
    changed_map = {
        "latest": frozenset({_REG}),  # this round: metadata-only edit
        "old": frozenset({_REG}),  # everyone stale only via the hub
        "old-" + flagship: frozenset({_REG, own_file}),  # direct, prior round
    }
    _fake_env(monkeypatch, gates, "latest", changed_map)
    order = gate_order(QUERIES)
    # only the flagship's since-gate diff touches a non-universal file,
    # so it alone is tier-1; under the r13 (pre-fix) logic the metadata
    # edit would have flattened everything into one this-round tier and
    # registration order would have buried it
    assert order[0] == flagship
    assert set(order) == set(QUERIES)


def test_module_stale_outranks_closure_only_and_tail_is_clean(monkeypatch):
    sim_file = "milan_telecom_etl__spark/registry_similarity.py"
    gates = {name: {"sha": "old", "round": 5} for name in QUERIES}
    changed_map = {
        # this round edited registry_similarity.py (+ hub metadata)
        "latest": frozenset({sim_file, _REG}),
        "old": frozenset({sim_file, _REG}),
    }
    _fake_env(monkeypatch, gates, "latest", changed_map)
    monkeypatch.setattr(gating, "fn_changed_since", lambda fn, sha, uni=frozenset(): False)
    order = gate_order(QUERIES)
    sim_stale = {n for n, f in QUERIES.items()
                 if sim_file in entry_dep_files(f) - {_REG}}
    closure_only = set(QUERIES) - sim_stale
    # tier 1 (module-stale) strictly precedes tier 2 (closure-only)
    worst_t1 = max(order.index(n) for n in sim_stale)
    best_t2 = min(order.index(n) for n in closure_only)
    assert worst_t1 < best_t2
    assert set(order) == set(QUERIES)


def test_fn_fingerprint_discriminates_within_a_module(monkeypatch):
    """The r13 gap in its pure form: EVERY entry is module-stale (the
    hub changed this round AND each entry's own module changed since
    its gate), but only one entry's function source actually differs —
    it must gate first."""
    flagship = _pick("registry_text")
    gates = {name: {"sha": "old", "round": 5} for name in QUERIES}
    changed_map = {
        "latest": frozenset({_REG}),
        # every registry module changed since everyone's gate
        "old": frozenset(
            {_REG}
            | {f"milan_telecom_etl__spark/registry_{m}.py"
               for m in ("text", "quality", "similarity", "sampling",
                          "tpch", "streaming", "ml", "geo", "analytics",
                          "series", "temporal", "semistructured")}
        ),
    }
    _fake_env(monkeypatch, gates, "latest", changed_map)
    monkeypatch.setattr(
        gating, "fn_changed_since",
        lambda fn, sha, uni=frozenset(): fn is QUERIES[flagship],
    )
    order = gate_order(QUERIES)
    assert order[0] == flagship


def test_fn_fingerprint_reads_false_for_unedited_fn_at_head():
    # real-git smoke: a committed entry fn vs HEAD must read unchanged.
    # The universal modules are excluded exactly as classify_gates
    # excludes them, so only an uncommitted edit to the sampled
    # module's own closure can flip it
    name = _pick("registry_geo")
    uni = frozenset(
        gating._file_to_dotted(p)
        for p in gating.universal_dep_files(QUERIES)
    )
    res = gating.fn_changed_since(QUERIES[name], "HEAD", uni)
    assert res is False


def test_closure_fingerprint_spans_helpers_across_modules():
    # the r14 upgrade: the fingerprint is the entry fn PLUS its static
    # reference closure, so a helper rewrite (the s-curve's
    # _s_curve_plan, an operator in operators/dedup.py) counts as a
    # direct change even though the entry fn's own source is untouched
    uni = frozenset(
        gating._file_to_dotted(p)
        for p in gating.universal_dep_files(QUERIES)
    )
    fn = QUERIES["lsh_s_curve"]
    closure = gating._closure_sources(
        None, "registry_text", fn.__name__, uni
    )
    names = {(m, n) for m, n, _ in closure}
    assert ("registry_text", "_s_curve_plan") in names
    assert ("registry_text", "_s_curve_df") in names
    assert ("operators.dedup", "minhash_lsh_candidates") in names
    assert ("operators.dedup", "_minhash_sig_arr") in names
    # module-level constants ride the closure too (preset changes are
    # behavior changes)
    assert ("registry_text", "_S_CURVE_PRESETS") in names
    # and universal-module symbols are excluded (load_table et al.)
    assert not any(m in uni for m, _ in names)


def test_closure_fingerprint_sees_in_body_imports():
    # the dominant lazy-import idiom (`from .bucketed import ...` at
    # the top of an entry fn) must resolve into the closure — both r14
    # entries use it, so without this the new mechanisms' own helpers
    # would be invisible to the fingerprint (r14 review finding #1)
    uni = frozenset(
        gating._file_to_dotted(p)
        for p in gating.universal_dep_files(QUERIES)
    )
    c1 = gating._closure_sources(
        None, "registry_text",
        QUERIES["exact_dup_groups_appendable"].__name__, uni,
    )
    assert ("bucketed", "appendable_bucketed_table") in {
        (m, n) for m, n, _ in c1
    }
    c2 = gating._closure_sources(
        None, "registry_semistructured",
        QUERIES["hll_partial_append_serving"].__name__, uni,
    )
    names2 = {(m, n) for m, n, _ in c2}
    assert ("artifacts", "load_or_append_partials") in names2
    # and one hop further: the shared refresh and its state machine
    # ride along too
    assert ("artifacts", "refresh") in names2
    assert ("artifacts", "append_plan") in names2


def test_unknown_gate_sha_promotes_conservatively(monkeypatch):
    some = next(iter(QUERIES))
    gates = {name: {"sha": "known", "round": 5} for name in QUERIES}
    gates[some] = {"sha": "vanished", "round": 5}
    changed_map = {"latest": frozenset(), "known": frozenset()}
    # "vanished" absent from the map -> _changed_since returns None
    _fake_env(monkeypatch, gates, "latest", changed_map)
    order = gate_order(QUERIES)
    assert order[0] == some  # tier 1 ahead of the clean tail


# --- hub-collapse tripwire (VERDICT r14 #7) -------------------------

# Behavior-bearing near-universal hubs that are ALLOWED to flood the
# stale tiers, each with a written justification. Empty by design: the
# correct fix for a flagged hub is moving it out of entry closures
# (the taxonomy.py precedent), not listing it here.
JUSTIFIED_HUBS: dict[str, str] = {}


def test_hub_collapse_tripwire_real_head():
    report = gating.hub_collapse_report(gating.classify_gates(QUERIES))
    if not report["collapsed"]:
        return
    unjustified = [
        f for f in report["culprit_files"] if f not in JUSTIFIED_HUBS
    ]
    assert not unjustified, (
        f">{gating.HUB_COLLAPSE_FRACTION:.0%} of gated entries sit in "
        f"tier 0 ({report['n_tier0']}/{report['n_gated']}) and these "
        f"files appear across that flood's closures: {unjustified}. "
        "A behavior-bearing hub module re-creates the r13 gate-order "
        "collapse — move its definitions out of entry closures (the "
        "taxonomy.py fix) or add it to JUSTIFIED_HUBS with a written "
        f"reason. Evidence: {report['file_counts']}"
    )


def test_hub_collapse_fixture_trips():
    # synthetic hub edit: 150 of 250 gated entries land tier 0 (their
    # closure fingerprints all see the hub's edited definitions), every
    # one with the same changed file in its closure evidence
    hub = "milan_telecom_etl__spark/newhub.py"
    stale = [(0, 3, f"e{i}") for i in range(150)]
    tail = [f"t{i}" for i in range(100)]
    evidence = {f"e{i}": frozenset({hub, f"milan_telecom_etl__spark/m{i % 7}.py"}) for i in range(150)}
    report = gating.hub_collapse_report(([], stale, tail, evidence))
    assert report["collapsed"] is True
    assert report["culprit_files"] == [hub], report
    # and an honest round's footprint (the r14 closure set: 34/252)
    # does not trip
    small = [(0, 3, f"e{i}") for i in range(34)]
    ok = gating.hub_collapse_report(
        ([], small, [f"t{i}" for i in range(218)], {f"e{i}": frozenset({hub}) for i in range(34)})
    )
    assert ok["collapsed"] is False and not ok["culprit_files"], ok
