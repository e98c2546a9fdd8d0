"""Driver-contract smoke tests (t1 replica)."""

import os

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "l_linestatus", "r_name"} <= set(df.columns)


def test_registry_consistency():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert q, "no queries registered"
    # every oracle key must have a query
    assert set(o) <= set(q), set(o) - set(q)


def test_all_queries_run_smoke(spark, sf_dir):
    """Every registered query must at least execute at sf0.001."""
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_sweep_order_puts_unverified_keys_first():
    """The driver verifies only the first ~50 keys of queries() order, so
    officially-green keys must sort AFTER every never-verified key. Round 3
    lost its whole sweep budget to a stale hand-maintained green set — this
    pins the self-maintaining ordering."""
    ordered = list(entry_mod.queries())
    # Three tiers since r12: unverified BACKLOG first, green rotation in
    # the middle, keys registered in the in-flight round last (the r11
    # VERDICT #1 certification-freshness freeze — see _sweep_tier).
    tiers = [entry_mod._sweep_tier(n) for n in ordered]
    order_of = {0: 0, 1: 1, 2: 2}
    assert tiers == sorted(tiers, key=order_of.get), (
        "sweep tiers must be monotone backlog -> green -> current-round"
    )
    green = entry_mod._GREEN_OFFICIAL
    backlog = [n for n in ordered if entry_mod._sweep_tier(n) == 0]
    # no green key may appear before any backlog key
    assert all(n not in green for n in backlog)


def test_sweep_order_drains_oldest_round_first():
    """Round-6 VERDICT #1: the capped sweep starved the r5 backlog because
    unverified keys ranked by family order, not age — 32 of 50 slots went to
    brand-new r6 keys while all 12 remaining TPC-H composites waited. Pin
    the fix: within the unverified block, registration round (from
    tools/key_rounds.json) must be non-decreasing, so the oldest backlog
    always drains before newly-registered keys."""
    ordered = list(entry_mod.queries())
    unverified = [n for n in ordered if entry_mod._sweep_tier(n) == 0]
    rounds = [entry_mod._KEY_ROUNDS.get(n, entry_mod._ROUND_UNKNOWN) for n in unverified]
    assert rounds == sorted(rounds), (
        "unverified keys must sort oldest-registration-round first; "
        f"violations near: {[n for n, a, b in zip(unverified, rounds, sorted(rounds)) if a != b][:5]}"
    )
    # every registered key has a known registration round
    assert set(entry_mod._KEY_ROUNDS) >= set(ordered), (
        "run `python tools/gen_key_rounds.py` after registering new keys"
    )
    # the r6 VERDICT's explicit "Done" criterion: while any TPC-H composite
    # is unverified, it must sit inside the driver's 50-key sweep window
    tpch_waiting = [n for n in unverified if n.startswith("tpch_")]
    assert all(unverified.index(n) < 50 for n in tpch_waiting), (
        f"TPC-H composites pushed past the sweep cap: "
        f"{[(n, unverified.index(n)) for n in tpch_waiting]}"
    )


def test_green_set_reads_correctness_files(tmp_path, monkeypatch):
    """_official_green takes the latest fully-matching row per key from the
    CORRECTNESS files. Asserted against synthetic files in tmp_path — the
    live repo files change every driver round, so pinning live state here
    made the test go red the moment a sweep verified a pinned key (r4)."""
    import json

    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    bad = {"rows_match": True, "schema_match": False, "hash_match": True}
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps({"join_inner": ok, "rewritten_key": ok, "red_key": bad})
    )
    (tmp_path / "CORRECTNESS_r2.json").write_text(json.dumps({"win_rank": ok}))
    monkeypatch.setattr(entry_mod, "_REPO_ROOT", str(tmp_path))
    monkeypatch.setattr(entry_mod, "_CHANGED_IN_ROUND", {"rewritten_key": 2})
    green = entry_mod._official_green()
    assert green >= {"join_inner", "win_rank"}
    # a key with no green row in any round must not be present
    assert "red_key" not in green
    assert "never_swept_key" not in green
    # a key rewritten AFTER its last green row is forced back into the sweep
    assert "rewritten_key" not in green


def test_green_keys_source_unchanged():
    """Staleness guard (round-4 VERDICT #5): a key with an official green
    CORRECTNESS row must not have its registered source/oracle silently
    rewritten. Discipline on ANY edit to a registered function: regenerate
    the manifest (`python tools/gen_manifest.py`) once local parity passes;
    if the edit CHANGES the output, ALSO add the key to _CHANGED_IN_ROUND
    so the driver re-verifies it. Doing neither is the silent-stale-green
    failure mode sample_hash hit in round 4."""
    import json
    import os

    from data_transform_spark.registry import ORACLES, QUERIES
    from tools.gen_manifest import MANIFEST, key_hash

    with open(MANIFEST) as fh:
        manifest = json.load(fh)
    # every registered key must be in the committed manifest
    assert set(manifest) == set(QUERIES), set(QUERIES) ^ set(manifest)

    # round number of the newest committed CORRECTNESS file = "now"
    rounds = [
        int(m.group(1))
        for p in os.listdir(entry_mod._REPO_ROOT)
        if (m := __import__("re").search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    latest_round = max(rounds, default=0)

    stale = [
        key
        for key in entry_mod._official_green()
        if key in manifest
        and key_hash(QUERIES[key], ORACLES.get(key)) != manifest[key]
        and entry_mod._CHANGED_IN_ROUND.get(key, -1) <= latest_round
    ]
    assert not stale, (
        f"green keys with rewritten source: {stale} — run `python "
        "tools/gen_manifest.py` after local parity passes (and ALSO add "
        "the key to _CHANGED_IN_ROUND if the output changed)"
    )


def test_green_set_orders_rounds_numerically(tmp_path, monkeypatch):
    """CORRECTNESS_r10 must override r4 (lexicographic sort would invert)."""
    import json

    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    bad = {"rows_match": True, "schema_match": True, "hash_match": False}
    (tmp_path / "CORRECTNESS_r4.json").write_text(json.dumps({"k": ok}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"k": bad}))
    monkeypatch.setattr(entry_mod, "_REPO_ROOT", str(tmp_path))
    assert "k" not in entry_mod._official_green()
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"k": ok}))
    assert "k" in entry_mod._official_green()


class TestKeyRoundDerivation:
    """r7 VERDICT #6: property-test gen_key_rounds.derive against synthetic
    git histories with out-of-order, missing, and duplicate boundaries, so
    a future history rewrite can't silently misrank the sweep backlog."""

    @staticmethod
    def _make_repo(tmp_path):
        import subprocess

        repo = str(tmp_path / "synth")
        os.makedirs(f"{repo}/data_transform_spark")

        def git(*args):
            subprocess.check_output(
                ["git", "-C", repo, *args], stderr=subprocess.STDOUT
            )

        git("init", "-q")
        git("config", "user.email", "t@t")
        git("config", "user.name", "t")

        def add_keys(*names):
            path = f"{repo}/data_transform_spark/ops.py"
            with open(path, "a") as fh:
                for n in names:
                    fh.write(f'@register(\n    "{n}",\n)\ndef {n}(): ...\n')
            git("add", "-A")

        def commit(subject):
            git("commit", "-q", "-m", subject)

        return repo, add_keys, commit

    def _derive(self, repo):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "gen_key_rounds_under_test",
            os.path.join(os.path.dirname(__file__), "..", "tools", "gen_key_rounds.py"),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.derive(repo)

    def test_linear_history_attributes_first_appearance(self, tmp_path):
        repo, add_keys, commit = self._make_repo(tmp_path)
        add_keys("k1", "k2")
        commit("round 1: verdict/x")
        add_keys("k3")
        commit("round 2: verdict/x")
        assert self._derive(repo) == {"k1": 1, "k2": 1, "k3": 2}

    def test_missing_boundary_falls_to_next_snapshot(self, tmp_path):
        repo, add_keys, commit = self._make_repo(tmp_path)
        add_keys("k1")
        commit("round 1: verdict/x")
        add_keys("k3")  # registered during round 3, but round 3 never closed
        commit("wip")
        add_keys("k4")
        commit("round 4: verdict/x")
        got = self._derive(repo)
        assert got == {"k1": 1, "k3": 4, "k4": 4}

    def test_out_of_order_boundaries_rank_by_round_number(self, tmp_path):
        """A rewritten history where a SMALLER round's boundary commit comes
        LATER must still attribute each key to the smallest round whose
        snapshot contains it — commit order is irrelevant."""
        repo, add_keys, commit = self._make_repo(tmp_path)
        add_keys("k1")
        commit("round 1: verdict/x")
        add_keys("k4")
        commit("round 4: verdict/x")
        add_keys("k6")
        commit("round 3: verdict/x")  # out-of-order: round 3 after round 4
        got = self._derive(repo)
        # round-3's (later) tree contains k4 and k6, and 3 < 4, so both
        # attribute to round 3 — deterministic smallest-containing-round
        assert got == {"k1": 1, "k4": 3, "k6": 3}

    def test_duplicate_boundary_keeps_newest_commit(self, tmp_path):
        repo, add_keys, commit = self._make_repo(tmp_path)
        add_keys("k1")
        commit("round 2: verdict/x")
        add_keys("k2")
        commit("round 2: verdict/x")  # driver re-closed the same round
        got = self._derive(repo)
        # newest round-2 snapshot wins: k2 is covered, both land in round 2
        assert got == {"k1": 2, "k2": 2}

    def test_working_tree_keys_get_current_round(self, tmp_path):
        repo, add_keys, commit = self._make_repo(tmp_path)
        add_keys("k1")
        commit("round 1: verdict/x")
        add_keys("k9")  # uncommitted working-tree key
        got = self._derive(repo)
        assert got == {"k1": 1, "k9": 2}

    def test_no_boundaries_puts_everything_in_round_one(self, tmp_path):
        repo, add_keys, commit = self._make_repo(tmp_path)
        add_keys("k1", "k2")
        commit("plain commit, no boundary")
        assert self._derive(repo) == {"k1": 1, "k2": 1}


def test_current_round_keys_defer_behind_green_block(monkeypatch):
    """r11 VERDICT #1 (certification freeze): a key registered in the
    in-flight round (registration round > newest CORRECTNESS file) must
    sort AFTER every green key, so the capped sweep's 50 slots all go to
    re-certifying the stalest official rows. A key from an already-closed
    round with no green row stays in the leading backlog tier."""
    monkeypatch.setattr(entry_mod, "_GREEN_OFFICIAL", {"old_green"})
    monkeypatch.setattr(entry_mod, "_GREEN_ROUNDS", {"old_green": 2})
    monkeypatch.setattr(
        entry_mod,
        "_KEY_ROUNDS",
        {"old_green": 1, "backlog_key": 5, "brand_new": 12},
    )
    monkeypatch.setattr(entry_mod, "_LATEST_OFFICIAL_ROUND", 11)
    assert entry_mod._sweep_tier("backlog_key") == 0
    assert entry_mod._sweep_tier("old_green") == 1
    assert entry_mod._sweep_tier("brand_new") == 2
    # self-release: once the driver commits this round's file, the new key
    # falls into the backlog tier and leads the next sweep
    monkeypatch.setattr(entry_mod, "_LATEST_OFFICIAL_ROUND", 12)
    assert entry_mod._sweep_tier("brand_new") == 0


def test_sweep_green_block_recertifies_oldest_first():
    """r10 VERDICT #5: 292 keys had no driver row since their registering
    round because green keys kept a fixed order past the 50-key cap. Within
    the green block, last-certified round must be non-decreasing so spare
    sweep slots rotate through the stalest certifications first."""
    ordered = list(entry_mod.queries())
    green = entry_mod._GREEN_OFFICIAL
    green_tail = [n for n in ordered if n in green]
    rounds = [entry_mod._GREEN_ROUNDS[n] for n in green_tail]
    assert rounds == sorted(rounds), (
        "green keys must sort oldest-certification-first; violations near: "
        f"{[n for n, a, b in zip(green_tail, rounds, sorted(rounds)) if a != b][:5]}"
    )
