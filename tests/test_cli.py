"""CLI / job-API tests: batch backfill in both input formats."""

from __future__ import annotations

import base64
import glob
import gzip
import json


def test_cli_batch_payload_and_kinesis_event(spark, tmp_path):
    from terraform_aws_lambda_kinesis_to_s3_spark.__main__ import main

    src = tmp_path / "in"
    src.mkdir()
    (src / "p.jsonl").write_text(
        json.dumps({"log_type": "a", "log_id": "1", "time": "2024-01-02T03:00:00Z"})
        + "\n"
    )
    out = str(tmp_path / "out")
    assert main(["batch", "--input", str(src), "--output", out]) == 0
    files = glob.glob(f"{out}/**/*.gz", recursive=True)
    assert any("log_type=a/ym=2024-01/dd=02" in f for f in files)

    ke = tmp_path / "ke"
    ke.mkdir()
    payload = json.dumps(
        {"log_type": "b", "log_id": "2", "time": "2024-02-03T04:00:00Z"}
    ).encode()
    event = {
        "Records": [
            {
                "kinesis": {
                    "data": base64.b64encode(gzip.compress(payload)).decode(),
                    "partitionKey": "k",
                    "sequenceNumber": "1",
                    "approximateArrivalTimestamp": 1.0,
                }
            }
        ]
    }
    (ke / "e.jsonl").write_text(json.dumps(event) + "\n")
    out2 = str(tmp_path / "out2")
    assert (
        main(
            [
                "batch",
                "--input",
                str(ke),
                "--output",
                out2,
                "--kinesis-event",
                "--exact-layout",
            ]
        )
        == 0
    )
    files2 = glob.glob(f"{out2}/**/*.gz", recursive=True)
    assert any("/b/2024-02/03/" in f for f in files2)
    assert gzip.open(files2[0], "rt").read().strip() == payload.decode()


def _load_rotate_tool():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "rotate_driver_window",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "rotate_driver_window.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _row(ok: bool) -> dict:
    return {"rows_match": ok, "schema_match": True, "hash_match": ok}


def test_rotate_green_rows_latest_round_wins(tmp_path):
    """green_rows() against SYNTHETIC fixtures (never the live repo
    artifacts, which mutate every round): all-green counts, a red is
    excluded, and a newer red EVICTS an older green (regressions must
    rotate back into the driver window)."""
    mod = _load_rotate_tool()
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "always_green": _row(True),
        "red_from_start": _row(False),
        "green_then_red": _row(True),
        "red_then_green": _row(False),
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "green_then_red": _row(False),
        "red_then_green": _row(True),
    }))
    green = mod.green_rows(str(tmp_path))
    assert green == {"always_green", "red_then_green"}
    latest = mod.latest_rows(str(tmp_path))
    assert latest["green_then_red"] is False  # newest row wins


def test_rotate_skips_priority_requeues():
    """A name listed in DRIVER_PRIORITY means its implementation changed
    after its last green row — priority_names() must surface it so
    main() never marks since-changed code verified off a stale green
    (r4 ADVICE item 3)."""
    mod = _load_rotate_tool()
    src = (
        'DRIVER_PRIORITY: tuple[str, ...] = (\n'
        '    # re-queued: implementation changed\n'
        '    "changed_query",\n'
        '    "another_changed",\n'
        ')\n'
    )
    assert mod.priority_names(src) == {"changed_query", "another_changed"}
    # empty tuple (comments only) -> no names
    empty = 'DRIVER_PRIORITY: tuple[str, ...] = (\n    # none this round\n)\n'
    assert mod.priority_names(empty) == set()


def test_rotate_driver_verified_block_exists():
    """The tool can still find the DRIVER_VERIFIED block it rewrites."""
    import re

    mod = _load_rotate_tool()
    src = open(mod.QUERIES_PY).read()
    assert re.search(r"DRIVER_VERIFIED: frozenset\[str\] = frozenset\(", src)


def test_bench_coverage_is_total():
    """Every registry query is benched or carries a documented
    exclusion: HEADLINE ∪ EXCLUDED == REGISTRY, disjoint, no strays —
    the 'every query gets a bench entry' claim, machine-checked
    (r4 verdict item 5)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

    headline, excluded = set(bench.HEADLINE), set(bench.EXCLUDED)
    assert len(bench.HEADLINE) == len(headline), "duplicate HEADLINE entry"
    assert not headline & excluded, headline & excluded
    assert headline | excluded == set(REGISTRY), (
        "unbenched without documented exclusion: "
        f"{sorted(set(REGISTRY) - headline - excluded)}; "
        f"stray non-registry names: "
        f"{sorted((headline | excluded) - set(REGISTRY))}"
    )
    assert all(bench.EXCLUDED.values()), "every exclusion needs a reason"


def test_rotate_priority_names_ignore_comments():
    """A double-quoted word inside a DRIVER_PRIORITY comment must NOT
    be parsed as a priority name: if it collided with a real query
    name, that query's greens would be silently subtracted from
    DRIVER_VERIFIED forever."""
    mod = _load_rotate_tool()
    src = (
        'DRIVER_PRIORITY: tuple[str, ...] = (\n'
        '    # cites NOTES_r7 "some_real_query" and "Deferred" here\n'
        '    "actually_listed",  # trailing "quoted" comment\n'
        ')\n'
    )
    assert mod.priority_names(src) == {"actually_listed"}
    # and the real file parses to exactly the tuple's entries
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    parsed = mod.priority_names(open(mod.QUERIES_PY).read())
    assert parsed == set(Q.DRIVER_PRIORITY)


def test_stale_green_check_trips_on_changed_hash():
    """check_stale_greens (r9 verdict item 4): a DRIVER_VERIFIED name
    whose recorded rotation hash no longer matches the live registry
    must FAIL the round close — unless it sits in DRIVER_PRIORITY (the
    explicit re-queue).  New, removed, and unchanged names never trip.
    Synthetic fixtures only; the live-repo invariant is covered by
    round_close running the same check."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.verify_contract import check_stale_greens

    recorded = {"q_a": "aaaa", "q_b": "bbbb", "q_gone": "dddd"}
    live = {"q_a": "aaaa", "q_b": "CHANGED", "q_new": "eeee"}
    # changed + verified + NOT re-queued -> trips, naming the query
    probs = check_stale_greens(
        hashes=recorded, verified={"q_a", "q_b"}, priority=set(),
        current=live,
    )
    assert probs and "q_b" in probs[0] and "q_a" not in probs[0]
    # changed but re-queued in DRIVER_PRIORITY -> clean
    assert not check_stale_greens(
        hashes=recorded, verified={"q_a", "q_b"}, priority={"q_b"},
        current=live,
    )
    # registry-new (no recording) and registry-removed names never trip
    assert not check_stale_greens(
        hashes=recorded, verified={"q_a", "q_new", "q_gone"},
        priority=set(), current=live,
    )


def test_closure_hash_trips_on_kernel_only_change(monkeypatch):
    """r10 verdict item 1: the per-entry rotation hash must cover the
    entry's HELPER CLOSURE, not just its own source — the r10
    mvhd/mdhd v1-guard fix changed only operators/multimodal.py and
    the old function-only hash was blind to it.  Tamper with a kernel
    module's content hash (no registry function touched) and the
    entries whose closure reaches that module must change hash while
    unrelated entries must not; the dependency must also propagate
    TRANSITIVELY through the module import graph (operators.dedup
    imports operators.textops, so a textops change trips dedup-backed
    entries).  Replayed live against the actual v1-guard commit
    (53536e9~1 vs HEAD) this scheme trips exactly the 10
    multimodal-dependent entries — see NOTES_r11.md."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import tools.rotate_driver_window as R

    base = R.registry_hashes()
    real = R._module_graph

    def tampered_mm():
        h, c = real()
        h["terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal"] = (
            "0" * 16
        )
        return h, c

    monkeypatch.setattr(R, "_module_graph", tampered_mm)
    mm = R.registry_hashes()
    tripped = {k for k in mm if mm[k] != base[k]}
    # the kernel-only change reaches every multimodal consumer ...
    assert {"video_meta_probe", "video_frame_fetch_verify",
            "multimodal_audio_meta"} <= tripped
    # ... and nothing else (no false sweep of the whole registry)
    assert "q1" not in tripped and "dedup_exact_log_id" not in tripped

    def tampered_tx():
        h, c = real()
        h["terraform_aws_lambda_kinesis_to_s3_spark.operators.textops"] = (
            "f" * 16
        )
        return h, c

    monkeypatch.setattr(R, "_module_graph", tampered_tx)
    tx = R.registry_hashes()
    tripped_tx = {k for k in tx if tx[k] != base[k]}
    # transitive: dedup entries reach textops THROUGH operators.dedup
    assert "dedup_exact_log_id" in tripped_tx
    assert "q1" not in tripped_tx and "video_meta_probe" not in tripped_tx


def test_bench_calibration_admission_gate():
    """calibration_admitted (r9 verdict item 2): a sweep taken under
    co-tenant contention must be refused at artifact-write time —
    inside-window probes admit, any probe over its ceiling (or
    missing) refuses with a named reason.  The ceilings themselves
    are pinned so a silent loosening shows up in review."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import CALIB_ADMIT_MAX, calibration_admitted

    assert CALIB_ADMIT_MAX == {"cpu_calib_sec": 0.05, "jvm_calib_sec": 0.15}
    # the r9 readings come from a 32-core sweep: judge them at 32 cores
    # whatever SPARK_GRAFT_CPUS the suite runs under
    ok, reasons = calibration_admitted(
        {"cpu_calib_sec": 0.031, "jvm_calib_sec": 0.138}, cpus=32
    )
    assert ok and reasons == []
    # the r9 contaminated sweep's probe reading must be refused
    ok, reasons = calibration_admitted(
        {"cpu_calib_sec": 0.031, "jvm_calib_sec": 0.306}, cpus=32
    )
    assert not ok and any("jvm_calib_sec" in r for r in reasons)
    # a sweep without its probe block cannot prove its window
    ok, reasons = calibration_admitted({"jvm_calib_sec": 0.1}, cpus=32)
    assert not ok and any("cpu_calib_sec" in r for r in reasons)
    # low-core sessions: the jvm probe is a FIXED 32-task reduce, so
    # at 8 cores it runs 4 waves and the ceiling scales with the wave
    # count (r12: six straight 8-core receipt windows were refused at
    # 0.148-0.26 s — healthy per-wave readings judged against the
    # 32-core ceiling).  At 32+ cores nothing changes.
    from bench import effective_calib_limits

    assert effective_calib_limits(32) == CALIB_ADMIT_MAX
    assert effective_calib_limits(8)["jvm_calib_sec"] == 0.6
    assert effective_calib_limits(8)["cpu_calib_sec"] == 0.05
    ok, reasons = calibration_admitted(
        {"cpu_calib_sec": 0.031, "jvm_calib_sec": 0.45}, cpus=8
    )
    assert ok and reasons == []
    ok, reasons = calibration_admitted(
        {"cpu_calib_sec": 0.031, "jvm_calib_sec": 0.45}, cpus=32
    )
    assert not ok
    # the r9 discard threshold still refuses even at 8 cores when the
    # reading exceeds the scaled ceiling
    ok, _ = calibration_admitted(
        {"cpu_calib_sec": 0.031, "jvm_calib_sec": 0.65}, cpus=8
    )
    assert not ok
    # 4 cores: 8 waves, so the jvm ceiling is 0.15 x 8 = 1.2
    assert effective_calib_limits(4)["jvm_calib_sec"] == 1.2
    ok, _ = calibration_admitted(
        {"cpu_calib_sec": 0.031, "jvm_calib_sec": 1.25}, cpus=4
    )
    assert not ok


def test_control_band_baselines_pinned():
    """The control-band instrument's baselines must never drift: they
    are the r8-driver readings every triage since r9 normalized
    against, and the five control queries must still exist in the
    registry (a renamed/removed control would silently shrink the
    band sample)."""
    import importlib.util
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    spec = importlib.util.spec_from_file_location(
        "control_band",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "control_band.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.CONTROLS == {
        "ab_sprt_daily": 0.29,
        "char_entropy": 0.20,
        "chunk_dedup": 0.32,
        "cdc_merge_upsert": 0.33,
        "context_length_plan": 0.19,
    }
    # second column (r10 verdict item 6): the r11 certified-idle
    # min-of-5 solo baselines, same five controls, also pinned
    assert mod.CONTROLS_R11_IDLE == {
        "ab_sprt_daily": 0.328,
        "char_entropy": 0.349,
        "chunk_dedup": 0.474,
        "cdc_merge_upsert": 0.373,
        "context_length_plan": 0.217,
    }
    assert set(mod.CONTROLS_R11_IDLE) == set(mod.CONTROLS)
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import REGISTRY

    assert set(mod.CONTROLS) <= set(REGISTRY)


def test_partition_invariance_hash_is_layout_blind():
    """The invariance audit's frame hash must be blind to exactly the
    things a partition layout reorders — row order and column order —
    and sharp to a single value change; otherwise the 309/309
    partition-invariant receipt would be vacuous (hash too loose) or
    noise (too strict)."""
    import importlib.util
    import os
    import sys

    import pandas as pd

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    spec = importlib.util.spec_from_file_location(
        "partition_invariance",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "partition_invariance.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    a = pd.DataFrame({"x": [1, 2, 3], "y": [0.15, 0.25, None]})
    shuffled = a.iloc[[2, 0, 1]][["y", "x"]]
    assert mod.frame_hash(a) == mod.frame_hash(shuffled)
    changed = a.copy()
    changed.loc[0, "x"] = 99
    assert mod.frame_hash(a) != mod.frame_hash(changed)


def test_stale_green_check_live_repo_is_clean():
    """The live repo passes its own stale-green gate: every
    DRIVER_VERIFIED entry's current source hash matches the recorded
    DRIVER_HASHES.json, or the name is re-queued in DRIVER_PRIORITY.
    A red here means a registry function changed without the re-queue
    bookkeeping — exactly the r9 failure this check automates away."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.verify_contract import check_stale_greens

    assert check_stale_greens() == []


def test_shared_stage_cache_registry_is_total():
    """SHARED_STAGE_CACHES is THE cache inventory, filled by
    @shared_stage: plans/queries.py keeps no module-level *_CACHE dict
    of its own that plan_cost's rollback or bench_diff's builder
    inclusion could silently miss, and every registered helper is a
    real module-level callable."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    hand_rolled = [
        name for name, obj in vars(Q).items()
        if name.startswith("_") and name.endswith("_CACHE")
        and isinstance(obj, dict)
    ]
    assert hand_rolled == []
    assert len(Q.SHARED_STAGE_CACHES) == 12
    for helper in Q.SHARED_STAGE_CACHES:
        assert callable(getattr(Q, helper))


def test_bench_diff_cache_builders():
    """The --recheck builder-inclusion contract: for every shared
    cache a flagged query consumes, the solo set gains that cache's
    FIRST sweep-order consumer (the query the full sweep charges the
    build to) — never the flagged query itself, never a non-consumer,
    and nothing at all when the flagged query is itself the first
    consumer or consumes no cache."""
    import importlib.util
    import inspect
    import os
    import sys

    spec = importlib.util.spec_from_file_location(
        "bench_diff",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "bench_diff.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import HEADLINE
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        REGISTRY,
        SHARED_STAGE_CACHES,
    )

    def caches_of(name):
        return {
            h for h in SHARED_STAGE_CACHES
            if name in REGISTRY
            and h + "(" in inspect.getsource(REGISTRY[name][0]).replace(
                h + " (", h + "("
            )
        }

    first = {}
    for n in HEADLINE:
        for h in caches_of(n):
            first.setdefault(h, n)
    # at least the three pair/signature caches must have a benched
    # first consumer, or the inclusion logic is dead code
    assert len(first) >= 3, first

    # a non-consumer gets no builders
    assert mod._cache_builders(["q1_pricing_summary"]) == []

    # a first consumer flagged alone gets no builders for its cache
    some_first = next(iter(first.values()))
    for b in mod._cache_builders([some_first]):
        assert caches_of(b) - caches_of(some_first), (
            "builder added for a cache whose first consumer IS flagged"
        )

    # a non-first consumer gets exactly its caches' first consumers
    non_first = next(
        (n for n in HEADLINE
         if caches_of(n) and n not in first.values()), None
    )
    assert non_first is not None
    builders = mod._cache_builders([non_first])
    assert non_first not in builders
    assert builders, f"{non_first} consumes {caches_of(non_first)}"
    for b in builders:
        assert b in first.values()
        assert caches_of(b) & caches_of(non_first)


def test_prose_counts_match_registry():
    """tools/verify_contract.check_prose_counts: README's stated
    registry size must equal len(REGISTRY) — drift is a failure."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.verify_contract import check_prose_counts

    assert check_prose_counts() == []


def test_explains_covers_registry():
    """tools/verify_contract.check_explains_count: EXPLAINS.md must
    carry one plan section per registry query — it lagged the registry
    in r4 AND r5; now drift is a test failure (r5 verdict item 6)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.verify_contract import check_explains_count

    assert check_explains_count() == []


def test_round_close_fuzz_smoke_gate():
    """r10 verdict item 2: the parser fuzz harness is a ROUND-CLOSE
    GATE, not an ad-hoc tool — tools/round_close.fuzz_smoke runs
    tools/fuzz_parsers.py once per pinned seed at a fixed wall budget
    and returns problems on a contract violation.  Pins: the seeds
    include 1 (the stream that found the r10 v1-guard crash) and 42,
    the default budget is non-trivial, a short live run passes clean
    on the current parsers, and main() wires the step in."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools import round_close as RC

    assert set(RC.FUZZ_SEEDS) == {1, 42}
    assert RC.FUZZ_BUDGET_S >= 10.0
    # live smoke at a tiny budget: current parsers must be clean
    assert RC.fuzz_smoke(budget=0.5, seeds=(1,)) == []
    # the gate is actually wired into the close (not just defined)
    import inspect

    src = inspect.getsource(RC.main)
    assert "fuzz_smoke()" in src and "FAIL (parser fuzz)" in src


def test_bench_only_exact_name_not_shadowed_by_substring():
    """bench.py --only (r11 fix): a pattern that IS a registry name
    must run even when it substring-matches a DIFFERENT headline
    entry — graph_triangle_parts was silently skipped because it
    matched graph_triangle_parts_capped.  Also: plain substring
    patterns still fan out, and unknown patterns select nothing."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench

    got = bench.select_only(["graph_triangle_parts"])
    assert "graph_triangle_parts" in got            # the exact name runs
    assert "graph_triangle_parts_capped" in got     # substring fan-out kept
    assert len(got) == len(set(got))                # no duplicates
    assert bench.select_only(["no_such_query_zzz"]) == []


def test_all_committed_artifacts_carry_admission_gate():
    """r10 verdict item 4: every committed measurement artifact —
    BENCH_FULL (bench.py, behavior-tested above), ENVELOPE_BENCH,
    BENCH_SF1, PLAN_COSTS* — must pass through the SAME
    CALIB_ADMIT_MAX refusal path: a reading outside the admission
    window lands in a *_rejected.json sidecar (exit 2) and never
    touches the committed artifact.  The decision function's behavior
    is covered by test_bench_calibration_admission_gate; this pins
    that each tool actually routes through it (the refusal branch
    needs a live loaded-host Spark session to exercise end-to-end)."""
    import os

    repo = os.path.join(os.path.dirname(__file__), "..")
    for tool, rejected in [
        ("tools/envelope_bench.py", "ENVELOPE_BENCH_rejected.json"),
        ("tools/bench_sf1.py", "BENCH_SF1_rejected.json"),
        ("tools/plan_cost.py", "_rejected.json"),
        ("tools/core_scaling.py", "_rejected"),
    ]:
        src = open(os.path.join(repo, tool)).read()
        assert "calibration_admission" in src, tool
        assert rejected in src, tool
        assert "SystemExit(2)" in src, tool
        # envelope_bench and plan_cost decide locally; bench_sf1
        # inherits the inner bench.py run's decision
        assert ("calibration_admitted" in src), tool


def test_round_close_invariance_subset():
    """r10 verdict item 5: the partition-invariance audit runs per
    close over the round's CHANGED subset — closure-hash drift vs the
    rotation recording (registry-new names included: absent from the
    recording counts as changed) plus DRIVER_PRIORITY re-queues.
    Synthetic-fixture math plus a pin that main() actually wires the
    step (exact-name selection, so q1 cannot over-select q10..q19)."""
    import inspect
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools import round_close as RC

    sub = RC.invariance_subset(
        recorded={"a": "1", "b": "2", "gone": "9"},
        live={"a": "1", "b": "CHANGED", "new": "3"},
        priority={"requeued"},
    )
    assert sub == ["b", "new", "requeued"]
    assert RC.invariance_subset(
        recorded={"a": "1"}, live={"a": "1"}, priority=set()
    ) == []
    src = inspect.getsource(RC.main)
    assert "invariance_subset()" in src
    assert "partition_invariance.py" in src and "--exact" in src


def test_round_close_head_is_final():
    """tools/verify_contract.check_round_close_head: once the newest
    NOTES file records a ROUND CLOSE PASS with its HEAD sha, no
    registry-touching commit may follow it (the r4/r5
    insert-after-the-gate failure mode, machine-checked)."""
    from tools.verify_contract import check_round_close_head

    assert check_round_close_head() == []


def test_round_close_head_detects_stale_pass(tmp_path):
    """The checker's teeth: in a scratch repo whose newest NOTES records
    a PASS HEAD, a later commit touching plans/queries.py flags the
    PASS as stale, an uncommitted edit flags too, and a clean tree with
    no later registry commits passes."""
    import subprocess

    from tools.verify_contract import check_round_close_head

    repo = str(tmp_path)

    def git(*args):
        return subprocess.run(
            ["git", *args], cwd=repo, capture_output=True, text=True
        ).stdout.strip()

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    qdir = tmp_path / "terraform_aws_lambda_kinesis_to_s3_spark" / "plans"
    qdir.mkdir(parents=True)
    qfile = qdir / "queries.py"
    qfile.write_text("REGISTRY = {}\n")
    git("add", "-A")
    git("commit", "-qm", "registry v1")
    head = git("rev-parse", "--short", "HEAD")
    notes = tmp_path / "NOTES_r9.md"
    notes.write_text(f"ROUND CLOSE: PASS — registry 1, clean, 1s, HEAD {head}\n")
    git("add", "-A")
    git("commit", "-qm", "notes")  # non-registry commit after PASS: fine
    assert check_round_close_head(repo) == []
    qfile.write_text("REGISTRY = {'x': 1}\n")  # uncommitted edit
    assert any("uncommitted" in p for p in check_round_close_head(repo))
    git("add", "-A")
    git("commit", "-qm", "registry v2 after the gate")
    assert any("AFTER" in p for p in check_round_close_head(repo))


def test_precommit_guard_refuses_post_pass_registry_commit(tmp_path):
    """r11 verdict item 8 (the PASS-line race): the pre-commit guard
    must refuse a STAGED registry change while the newest NOTES records
    a PASS line — in the same session, at commit time — unless the same
    commit also stages the NOTES file (the sanctioned supersede path).
    Also pins that tools/round_close.py installs the hook idempotently
    without clobbering a foreign hook."""
    import subprocess

    from tools.precommit_guard import HOOK_BODY, guard, install_hook

    repo = str(tmp_path)

    def git(*args):
        return subprocess.run(
            ["git", *args], cwd=repo, capture_output=True, text=True
        ).stdout.strip()

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    qdir = tmp_path / "terraform_aws_lambda_kinesis_to_s3_spark" / "plans"
    qdir.mkdir(parents=True)
    qfile = qdir / "queries.py"
    qfile.write_text("REGISTRY = {}\n")
    git("add", "-A")
    git("commit", "-qm", "registry v1")
    head = git("rev-parse", "--short", "HEAD")

    # no PASS line yet: registry commits flow freely
    qfile.write_text("REGISTRY = {'a': 1}\n")
    git("add", "-A")
    assert guard(repo) == []
    git("commit", "-qm", "registry v2 pre-PASS")

    notes = tmp_path / "NOTES_r9.md"
    notes.write_text(f"ROUND CLOSE: PASS — registry 1, clean, 1s, HEAD {head}\n")
    git("add", "-A")
    git("commit", "-qm", "notes with PASS")

    # staged registry change after the PASS: REFUSED
    qfile.write_text("REGISTRY = {'a': 1, 'b': 2}\n")
    git("add", "-A")
    problems = guard(repo)
    assert problems and "PASS" in problems[0]

    # staging the NOTES supersede in the same commit: allowed
    notes.write_text(
        "superseded — re-run round_close\n"
        f"(was: ROUND CLOSE: PASS at HEAD {head})\n"
    )
    git("add", "-A")
    assert guard(repo) == []

    # hook installation: installs once, idempotent, never clobbers a
    # foreign hook
    assert install_hook(repo) is True
    hook = tmp_path / ".git" / "hooks" / "pre-commit"
    assert hook.read_text() == HOOK_BODY
    assert install_hook(repo) is False  # unchanged -> no rewrite
    hook.write_text("#!/bin/sh\nexit 0  # user hook\n")
    assert install_hook(repo) is False  # foreign hook preserved
    assert "user hook" in hook.read_text()


def test_scale_override_oracles_agree_with_registry_at_sf001():
    """The sf1 sweep's list-intersect triangle oracles
    (tools/scale_oracle_sweep.SCALE_ORACLE_OVERRIDES) must compute the
    SAME result as the registry's wedge-materializing DuckDB oracles
    wherever both are feasible — otherwise the scale sweep would be
    checking Spark against a DIFFERENT definition than the driver's
    per-round correctness gate does.  Pinned at sf0.01, where the
    wedge formulation is cheap."""
    import duckdb

    import __spark_entry__ as m
    from tools.scale_oracle_sweep import SCALE_ORACLE_OVERRIDES
    from tools.verify_contract import TABLES, values_equal
    from tests.test_oracle import canonicalize as canon

    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    osql = m.oracle_sql()
    assert SCALE_ORACLE_OVERRIDES, "override table unexpectedly empty"
    for name, sql in SCALE_ORACLE_OVERRIDES.items():
        assert name in osql, f"{name} override has no registry oracle"
        a = canon(con.execute(sql).df())
        b = canon(con.execute(osql[name]).df())
        assert list(a.columns) == list(b.columns), (name, a.columns, b.columns)
        assert len(a) == len(b), (name, len(a), len(b))
        for c in a.columns:
            assert all(
                values_equal(x, y) for x, y in zip(a[c], b[c])
            ), f"{name}: column {c} differs between override and registry oracle"


def test_capture_plans_dedup_counts():
    """r11 verdict item 7: formatted-plan node counts must dedupe the
    cached-subtree reprints (explain re-inlines the whole cached plan
    inside EVERY InMemoryTableScan reference) and skip == Initial
    Plan == sections; otherwise after-plans with persists read BIGGER
    than their before-plans while executing less."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "capture_plans",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "capture_plans.py"),
    )
    cp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cp)

    plan = """== Physical Plan ==
AdaptiveSparkPlan (20)
+- HashAggregate (19)
   +- InMemoryTableScan (1)
   :     +- InMemoryRelation (2)
   :           +- AdaptiveSparkPlan (9)
   :              +- == Final Plan ==
   :                 ResultQueryStage (8)
   :                 +- Exchange (7)
   :                    +- Scan parquet  (6)
   :              +- == Initial Plan ==
   :                 Exchange (5)
   :                 +- Scan parquet  (4)
   +- InMemoryTableScan (10)
         +- InMemoryRelation (11)
               +- AdaptiveSparkPlan (9)
                  +- == Final Plan ==
                     ResultQueryStage (8)
                     +- Exchange (7)
                        +- Scan parquet  (6)
                  +- == Initial Plan ==
                     Exchange (5)
                     +- Scan parquet  (4)
"""
    c = cp.node_counts(plan)
    # cached subtree counted once; Initial Plan duplicates not at all
    assert c["Exchange"] == 1, c
    assert c["Scan"] == 1, c
    assert c["InMemoryTableScan"] == 2, c  # both references stay visible
    assert c["HashAggregate"] == 1 and c["ResultQueryStage"] == 1
    # the LIST rendering is counted too, detail lines are not
    listy = """== Physical Plan ==
(1) Scan parquet
Output [1]: [v#1]

(2) HashAggregate
Input [1]: [v#1]
Functions [1]: [count(1)]

(3) Exchange
Input [1]: [c#2]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]
"""
    c2 = cp.node_counts(listy)
    assert c2 == {"Scan": 1, "HashAggregate": 1, "Exchange": 1}, c2
