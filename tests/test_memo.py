"""Session-attached memo hygiene (VERDICT r4 ask #5).

The shared intermediates (shared.py — e.g. the CC-label and
SimHash-pair tables of llm/dedup.py) carry materialized
localCheckpoint handles across queries in one session — exactly the
kind of state that silently poisons a cross-scale run if the keying or
lifetime is wrong. Pin the contracts:

- keyed per sf_dir: two scales back-to-back in ONE session each get
  fresh labels, and each result hash-matches a memo-cold recompute;
- scoped per session OBJECT: a sibling `newSession()` does not see the
  handles (they die with the session that owns the checkpoint blocks);
- per declared payer: cold -> prepay -> warm, one object per
  (session, sf_dir), and clearing one payer leaves every other warm.

Also pins the register_views fingerprint (ADVICE r4): rewriting a
fixture file in place must invalidate the view memo.
"""

from __future__ import annotations

import os

import pytest

from sparkstreamingtohdfsofsensorsdata_spark import registry, shared
from sparkstreamingtohdfsofsensorsdata_spark.llm.dedup import _cc_labels
from sparkstreamingtohdfsofsensorsdata_spark.tables import _dir_fingerprint

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"

registry.load_all()  # every declaring module imported
PAYERS = shared.payers()


def _clear_memos(spark) -> None:
    shared.clear(spark, "q_llm_dedup_clusters")
    shared.clear(spark, "q_llm_simhash_banded")


def _keys_holding(spark, name: str) -> list:
    """Store keys (path, fingerprint) that hold intermediate ``name``."""
    return [k for k, entry in shared._store(spark).items() if name in entry]


def _labels(spark, sf_dir):
    return sorted(tuple(r) for r in _cc_labels(spark, sf_dir).collect())


def test_cc_memo_keyed_per_sf_dir(spark):
    _clear_memos(spark)
    warm_a = _labels(spark, SF_A)
    warm_b = _labels(spark, SF_B)
    # two scales -> two distinct memo entries, not one overwritten slot
    assert len(_keys_holding(spark, "dedup.labels")) == 2
    assert len(_keys_holding(spark, "dedup.pairs")) == 2
    # sf0.01 has ~10x the docs; identical label sets would mean the
    # second call was served the first scale's handle
    assert warm_a != warm_b

    # memo-cold recompute of BOTH scales hash-matches the memoized runs
    _clear_memos(spark)
    assert _labels(spark, SF_A) == warm_a
    _clear_memos(spark)
    assert _labels(spark, SF_B) == warm_b
    _clear_memos(spark)


def test_memos_die_with_the_session_object(spark):
    _clear_memos(spark)
    _cc_labels(spark, SF_A)
    assert shared.warm(spark, SF_A, "q_llm_dedup_clusters")
    # A sibling session object (shared SparkContext, fresh state) must
    # not inherit the handles: the store rides the session attribute,
    # never a module global.
    sibling = spark.newSession()
    assert getattr(sibling, shared._STORE_ATTR, None) is None
    assert not shared.warm(sibling, SF_A, "q_llm_dedup_clusters")
    assert not shared.warm(sibling, SF_A, "q_llm_simhash_banded")
    _clear_memos(spark)


def test_register_views_fingerprint_tracks_file_changes(tmp_path):
    # Pure-fingerprint check (no Spark): same dir, same files -> equal;
    # a rewritten table file -> different. register_views keys its memo
    # on this, so rewriting fixtures in place invalidates the views.
    import os
    import shutil

    for name in ("region", "nation"):
        shutil.copy(f"{SF_A}/{name}.parquet", tmp_path / f"{name}.parquet")
    fp1 = _dir_fingerprint(str(tmp_path))
    fp2 = _dir_fingerprint(str(tmp_path))
    assert fp1 == fp2
    # rewrite one file with different content (size and/or mtime moves)
    src = tmp_path / "region.parquet"
    data = src.read_bytes()
    src.write_bytes(data + b"\x00")
    os.utime(src)
    assert _dir_fingerprint(str(tmp_path)) != fp1


def test_dedup_memos_keyed_on_file_fingerprint(spark):
    # ADVICE r5: the dedup memos must share register_views' (path,
    # fingerprint) keying, so an in-place fixture rewrite under the
    # SAME path cannot serve a stale checkpointed pair/label handle.
    _clear_memos(spark)
    _cc_labels(spark, SF_A)
    fp = _dir_fingerprint(SF_A)
    assert shared.memo_key(SF_A) == (os.path.abspath(SF_A), fp)
    assert _keys_holding(spark, "dedup.labels") == [(os.path.abspath(SF_A), fp)]
    assert _keys_holding(spark, "dedup.pairs") == [(os.path.abspath(SF_A), fp)]
    # a changed fingerprint (what a rewrite produces) misses the memo
    stale_key = (os.path.abspath(SF_A), ())
    assert stale_key not in shared._store(spark)
    _clear_memos(spark)


def test_dedup_memos_evict_superseded_same_path_entries(spark):
    # A fingerprint miss must REPLACE the same-path entry, not pile a
    # new handle on top of it: a session rewriting fixtures in place N
    # times would otherwise leak N materialized checkpoint handles
    # (review r6). Simulate the rewrite by planting a stale-fingerprint
    # entry under the same path and recomputing.
    _clear_memos(spark)
    _cc_labels(spark, SF_A)
    path = os.path.abspath(SF_A)
    store = shared._store(spark)
    store[(path, ("stale-fingerprint",))] = store.pop(shared.memo_key(SF_A))
    _cc_labels(spark, SF_A)
    assert [k for k in store if k[0] == path] == [shared.memo_key(SF_A)]
    assert _keys_holding(spark, "dedup.labels") == [shared.memo_key(SF_A)]
    assert _keys_holding(spark, "dedup.pairs") == [shared.memo_key(SF_A)]
    _clear_memos(spark)


def test_registry_window_is_the_stale_cohort():
    """The rotation policy (VERDICT r15 items 1-2, amended by VERDICT
    r16 item 1 for round 17): the driver checks a 50-key prefix of
    load_all(), so the prefix must be (a) the pinned optimization
    blast radius — keys whose physical plan the previous round rewrote
    without a driver re-verdict since (ROTATION_BLAST_HEAD; empty in a
    round with no standing blast radius) — then (b) the keys with NO
    driver verdict in any CORRECTNESS artifact the rotation could see,
    then (c) the stalest cohorts in round order (alphabetical within a
    cohort), truncated to fill the window. Computed from the committed
    driver artifacts, not hand-pinned indices, so the assertion IS the
    rotation policy.

    The artifact glob is FILTERED to rounds < registry.ROTATION_ROUND:
    the driver lands CORRECTNESS_r{N}.json AFTER the builder's close, so
    an unfiltered glob would flip the cohorts and turn this test red at
    every round-open (VERDICT r15 item 2). The pin keeps the suite
    green on a tree carrying newer artifacts; re-rotation at the NEXT
    round is enforced by scripts/round_close.py's rotation gate
    (ROTATION_ROUND must equal max artifact round + 1), not by a
    standing red test."""
    import glob
    import json
    import re

    from sparkstreamingtohdfsofsensorsdata_spark.registry import (
        ROTATION_BLAST_HEAD,
        ROTATION_NEW_KEYS,
        ROTATION_ROUND,
        VERIFICATION_PRIORITY,
    )

    latest: dict[str, int] = {}
    root = os.path.join(os.path.dirname(__file__), "..")
    artifacts = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    assert artifacts, "driver CORRECTNESS artifacts missing"
    seen_rounds = []
    for f in artifacts:
        r = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        seen_rounds.append(r)
        if r >= ROTATION_ROUND:
            continue  # landed after this rotation was computed
        d = json.load(open(f))
        for k in d.get("queries", d):
            if k.startswith("q_"):
                latest[k] = max(latest.get(k, 0), r)
    allk = set(registry.load_all())
    # the pinned blast radius heads the window (VERDICT r16 item 1) and
    # must consist of registered keys
    assert set(ROTATION_BLAST_HEAD) <= allk
    # mid-round additions queue at the VP tail and head the NEXT
    # rotation — they are never-checked too, but were not visible when
    # this window was computed
    never = sorted(
        allk - set(latest) - set(ROTATION_NEW_KEYS) - set(ROTATION_BLAST_HEAD)
    )
    by_round: dict[int, list] = {}
    for k, v in latest.items():
        if k in allk and k not in ROTATION_BLAST_HEAD:
            by_round.setdefault(v, []).append(k)
    # blast radius first, then never-checked, then cohorts oldest-round
    # first; stop at the first cohort that crosses the 50-key boundary —
    # its tail (sliced alphabetically) is the queue for the NEXT
    # rotation.
    expected = list(ROTATION_BLAST_HEAD) + list(never)
    for r in sorted(by_round):
        if len(expected) >= 50:
            break
        expected.extend(sorted(by_round[r]))
    policy_msg = (
        "driver verification window diverges from the stale-cohort "
        f"policy (rotated for round {ROTATION_ROUND}, computed from "
        f"artifacts < r{ROTATION_ROUND}; committed artifact rounds: "
        f"{sorted(seen_rounds)}). If a NEW CORRECTNESS artifact landed, "
        "re-rotate VERIFICATION_PRIORITY and bump ROTATION_ROUND in "
        "registry.py - scripts/round_close.py gates on this."
    )
    front = list(registry.load_all())[:50]
    assert front == expected[:50], policy_msg
    assert front == list(VERIFICATION_PRIORITY)[:50], policy_msg
    # positions 51+: the sliced cohort's remainder queues for the next
    # rotation (keys registered mid-round append behind it as they land)
    queue = list(VERIFICATION_PRIORITY)[50:]
    assert queue[: len(expected) - 50] == expected[50:], policy_msg
    # additions registered after the rotation sit at the very tail
    tail = queue[len(expected) - 50 :]
    assert tail == list(ROTATION_NEW_KEYS), policy_msg
    assert len(set(front)) == 50
    # keys the previous driver window greened must NOT occupy slots
    # (r16-greened picks; the blast-radius head legitimately re-checks
    # keys older windows greened, so the canaries must be outside it)
    for greened in ("q_agg_observe", "q_fn_url_parse", "q_ts_ewma"):
        assert greened not in front, policy_msg


def test_graph_family_docstring_in_sync():
    """VERDICT r10 item 5: the copurchase_edges docstring enumerates the
    graph kernels that share the edge intermediate; this assertion
    makes the enumeration (and its spelled-out count) structurally
    equal to the registry's q_graph_* keys so the r9/r10 drift class
    cannot recur — and the edge layer's declared payer is one of
    them."""
    import re

    from sparkstreamingtohdfsofsensorsdata_spark.operators import graph

    family = {k for k in registry.load_all() if k.startswith("q_graph_")}
    assert shared.DECLARED["graph.edges"].payer in family

    doc = graph.copurchase_edges.__doc__
    m = re.search(r"graph kernels \(([^)]*?)\s*—", doc, re.S)
    assert m, "docstring lost its kernel enumeration"
    names = re.findall(r"[a-z][a-z-]+", m.group(1))
    assert {"q_graph_" + n.replace("-", "_") for n in names} == family
    count_word = re.search(r"all (\w+) graph kernels", doc).group(1)
    words = {7: "seven", 8: "eight", 9: "nine", 10: "ten",
             11: "eleven", 12: "twelve"}
    assert count_word == words[len(family)]


def test_declarations_are_consistent():
    """Every declared read names a declared intermediate, every payer
    is a registered key, and payers() puts each payer after the payers
    of everything its intermediates read — so an upfront prepay in
    that order never builds one payer's intermediate under another's
    charge."""
    allk = set(registry.load_all())
    assert set(PAYERS) <= allk
    assert "q_agg_heavy_hitters" in PAYERS
    pos = {p: i for i, p in enumerate(PAYERS)}
    for decl in shared.DECLARED.values():
        for dep in decl.reads:
            assert dep in shared.DECLARED, (decl.name, dep)
            assert pos[shared.DECLARED[dep].payer] <= pos[decl.payer]


@pytest.fixture(scope="module")
def all_payers_warm(spark):
    """Every declared payer prepaid once at SF_A on an emptied store,
    so SF_B holds nothing and each payer case starts from a full set."""
    shared.clear_all(spark)
    for payer in PAYERS:
        shared.prepay(spark, SF_A, payer)
    yield spark
    shared.clear_all(spark)


@pytest.mark.parametrize("payer", PAYERS)
def test_declared_payer_lifecycle(all_payers_warm, payer):
    """Per declared payer: clearing it drops exactly its intermediates
    and leaves every other payer warm; it stays cold until ALL its
    intermediates exist (a partial build — e.g. the triangle probe
    without the folded counts — is not warm); prepay warms it; each
    intermediate is one object per (session, sf_dir), so heavy hitters
    reuse one broadcast; warmth is fingerprint-exact, so another sf_dir
    stays cold however full the store is."""
    spark = all_payers_warm
    others = [p for p in PAYERS if p != payer]
    owned = [n for n, d in shared.DECLARED.items() if d.payer == payer]
    assert shared.warm(spark, SF_A, payer)

    shared.clear(spark, payer)
    assert not shared.warm(spark, SF_A, payer)
    assert all(shared.warm(spark, SF_A, p) for p in others)
    if len(owned) > 1:
        shared.DECLARED[owned[0]].get(spark, SF_A)
        assert not shared.warm(spark, SF_A, payer)

    shared.prepay(spark, SF_A, payer)
    assert shared.warm(spark, SF_A, payer)
    for name in owned:
        get = shared.DECLARED[name].get
        assert get(spark, SF_A) is get(spark, SF_A), name
    assert not shared.warm(spark, SF_B, payer)


def test_survey_s2_is_one_to_one_with_registry():
    """VERDICT r15 item 6: SURVEY §2 is the coverage contract a judge
    diffs mechanically, so every registry key must own EXACTLY ONE §2
    table row (first cell = the backticked key) — no slash-families,
    no addendum-only keys, no orphan rows."""
    import re

    lines = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read().splitlines()
    s2s = next(i for i, l in enumerate(lines) if l.startswith("## §2"))
    s2e = next(i for i, l in enumerate(lines) if l.startswith("## §3"))
    first: dict[str, int] = {}
    multi = []
    for l in lines[s2s:s2e]:
        if not l.startswith("| "):
            continue
        cells = l.split("|")
        if len(cells) < 3:
            continue
        keys = set(re.findall(r"`(q_[a-z0-9_]+)`", cells[1]))
        if len(keys) > 1:
            multi.append(sorted(keys))
        for k in keys:
            first[k] = first.get(k, 0) + 1
    allk = set(registry.load_all())
    assert not multi, f"slash-family rows regressed: {multi}"
    assert sorted(allk - set(first)) == [], (
        "registry keys without a literal SURVEY §2 row: "
        f"{sorted(allk - set(first))} — add one row per key"
    )
    assert sorted(set(first) - allk) == [], (
        f"SURVEY §2 rows for unregistered keys: {sorted(set(first) - allk)}"
    )
    dups = {k: n for k, n in first.items() if n > 1}
    assert not dups, f"duplicate §2 rows: {dups}"
