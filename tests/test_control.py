"""Control-plane parity tests: gossip health monitoring (Tier 4) and the
job-manifest checkpoint (Tier 3). Pure-python -- no SparkSession needed.

The gossip cases port tests/test_gossip.go; the latency experiment
reproduces the shape of the paper's failure-detection table
(README.md:344-347: gossip C=3 detects in ~hundreds of ms vs the 10 s
centralized lease timeout).
"""

from __future__ import annotations

import json
import os
import time

from map_reduce_framework_spark.control.checkpoint import (
    JobManifest,
    run_with_manifest,
)
from map_reduce_framework_spark.control.gossip import (
    GossipProtocol,
    HealthEntry,
    HealthStatus,
    HealthTable,
    SimulatedCluster,
)


# --- tests/test_gossip.go:9-29 (update/get) --------------------------------
def test_health_table_update_get():
    ht = HealthTable()
    ht.update(1, HealthEntry(HealthStatus.ALIVE, 10.0, 0, 10.0))
    entry = ht.get(1)
    assert entry is not None
    assert entry.status == HealthStatus.ALIVE
    assert ht.get(99) is None


# --- tests/test_gossip.go:31-58 (merge escalation) -------------------------
def test_merge_newer_entry_wins():
    ht = HealthTable()
    ht.update(1, HealthEntry(HealthStatus.ALIVE, 10.0, 0, 10.0))
    # Incoming entry is NEWER (last_update 20 > 10) and Suspect -> replaces.
    ht.merge({1: HealthEntry(HealthStatus.SUSPECT, 9.0, 2, 20.0)}, now=21.0)
    entry = ht.get(1)
    assert entry.status == HealthStatus.SUSPECT
    assert entry.suspicion_count == 2
    assert entry.last_update == 21.0  # restamped locally (mr/gossip.go:90-97)


def test_merge_stale_but_more_suspicious_escalates():
    ht = HealthTable()
    ht.update(1, HealthEntry(HealthStatus.ALIVE, 10.0, 0, 30.0))
    # Stale (last_update 20 < 30) but suspicion 3 > 0: take count, escalate.
    ht.merge({1: HealthEntry(HealthStatus.SUSPECT, 9.0, 3, 20.0)}, now=31.0)
    entry = ht.get(1)
    assert entry.status == HealthStatus.SUSPECT
    assert entry.suspicion_count == 3


def test_merge_ignores_coordinator_id_zero():
    ht = HealthTable()
    ht.merge({0: HealthEntry(HealthStatus.DEAD, 0.0, 9, 99.0)}, now=100.0)
    assert ht.get(0) is None


def test_merge_snapshot_is_deep_copy():
    ht = HealthTable()
    ht.update(1, HealthEntry(HealthStatus.ALIVE, 1.0, 0, 1.0))
    snap = ht.get_all()
    snap[1].status = HealthStatus.DEAD
    assert ht.get(1).status == HealthStatus.ALIVE


# --- tests/test_gossip.go:94-105 (protocol construction/start) -------------
def test_protocol_defaults_match_reference():
    gp = GossipProtocol(
        worker_id=1, all_workers=[1, 2, 3, 4, 5], transport=lambda n, m: None
    )
    # mr/gossip.go:110-112: 100 ms gossip, consensus 3, 300 ms suspicion.
    assert gp.gossip_interval == 0.100
    assert gp.consensus_threshold == 3
    assert gp.suspicion_timeout == 0.300
    assert len(gp.neighbors) == 3
    assert gp.worker_id not in gp.neighbors
    # All peers start Alive.
    assert all(
        e.status == HealthStatus.ALIVE for e in gp.health_table.get_all().values()
    )


def test_unreachable_neighbor_escalates_and_dies():
    gp = GossipProtocol(
        worker_id=1, all_workers=[1, 2], transport=lambda n, m: None
    )
    now = 0.0
    # First failed probe: Alive -> Suspect with count 1 (mr/gossip.go:215-224).
    gp.tick_gossip(now := now + 0.1)
    assert gp.health_table.get(2).status == HealthStatus.SUSPECT
    assert gp.health_table.get(2).suspicion_count == 1
    gp.tick_gossip(now := now + 0.1)
    gp.tick_gossip(now := now + 0.1)
    assert gp.health_table.get(2).suspicion_count == 3
    # Suspicion >= 3 -> declared Dead exactly once, reported.
    reported = []
    gp.on_failure = reported.append
    assert gp.tick_health_check(now) == [2]
    assert gp.health_table.get(2).status == HealthStatus.DEAD
    assert gp.tick_health_check(now) == []  # no double declaration
    assert reported == [2]


def test_simulated_cluster_detects_failure_fast():
    """Paper experiment: with C=3 / 100 ms gossip, detection is sub-second --
    vs the 10 s centralized lease (mr/coordinator.go:14)."""
    cluster = SimulatedCluster(10, consensus_threshold=3, seed=7)
    latency = cluster.run_until_detected(victim=5)
    assert latency is not None and latency <= 1.0
    # Higher consensus threshold detects slower (C=5 row of the table).
    slow = SimulatedCluster(10, consensus_threshold=5, seed=7)
    lat5 = slow.run_until_detected(victim=5)
    assert lat5 is not None and lat5 >= latency


def test_health_table_size_matches_paper():
    # docs/ARCHITECTURE.md:29-33: ~32 B/worker -> 0.3 KB at 10 workers.
    ht = HealthTable()
    for w in range(1, 11):
        ht.update(w, HealthEntry())
    assert ht.size_bytes() == 320


# --- Tier-3 manifest checkpoint (mr/coordinator_tier.go:262-298) -----------
def test_manifest_atomic_resume(tmp_path):
    path = str(tmp_path / "mr-state.json")
    ran: list[str] = []

    def job(name):
        def _run():
            ran.append(name)
            return name.upper()

        return _run

    m1 = JobManifest(path, min_interval=0.0)
    results = run_with_manifest(m1, {"a": job("a"), "b": job("b")})
    assert results == {"a": "A", "b": "B"} and ran == ["a", "b"]

    # "Backup coordinator" restarts from the file: nothing re-runs.
    m2 = JobManifest(path, min_interval=0.0)
    assert m2.is_done("a") and m2.is_done("b")
    results2 = run_with_manifest(m2, {"a": job("a"), "b": job("b"), "c": job("c")})
    assert ran == ["a", "b", "c"]  # only the new job executed
    assert results2["a"] is None and results2["c"] == "C"

    # On-disk state is valid JSON with the completed map (torn writes would
    # fail json.load -- the atomic-rename guarantee).
    state = json.load(open(path))
    assert set(state["completed"]) == {"a", "b", "c"}
    assert state["phase"] == "done"


def test_manifest_throttle(tmp_path):
    path = str(tmp_path / "mr-state.json")
    m = JobManifest(path, min_interval=3600.0)
    m.mark_done("first", force=True)  # forced write
    m.mark_done("second")  # throttled: memory only
    assert set(json.load(open(path))["completed"]) == {"first"}
    m.flush()
    assert set(json.load(open(path))["completed"]) == {"first", "second"}


def test_backup_takes_over_from_killed_primary(tmp_path):
    """mr/backup_coordinator.go:27-71 end-to-end: a REAL primary process
    runs a 4-query job, committing each to the manifest, and hard-exits
    between q2 and q3. The backup's staleness watch fires after the lease
    and finishes the run; every query commits exactly once across the two
    drivers (the attempt log shows which driver ran what)."""
    import subprocess
    import sys

    from map_reduce_framework_spark.control.checkpoint import BackupCoordinator

    manifest_path = str(tmp_path / "mr-state.json")
    log_path = str(tmp_path / "attempts.log")

    primary_src = f"""
import os, sys
sys.path.insert(0, {repr(os.getcwd())})
from map_reduce_framework_spark.control.checkpoint import JobManifest, run_with_manifest

def job(name):
    def _run():
        with open({log_path!r}, "a") as fh:
            fh.write(f"primary:{{name}}\\n")
        if name == "q3":
            os._exit(1)  # crash mid-query, nothing committed for q3
        return name.upper()
    return _run

m = JobManifest({manifest_path!r}, min_interval=0.0)
run_with_manifest(m, {{n: job(n) for n in ["q1", "q2", "q3", "q4"]}})
"""
    proc = subprocess.run(
        [sys.executable, "-c", primary_src], capture_output=True, timeout=60
    )
    assert proc.returncode == 1  # the planted crash, not a clean exit

    def backup_job(name):
        def _run():
            with open(log_path, "a") as fh:
                fh.write(f"backup:{name}\n")
            return name.upper()

        return _run

    backup = BackupCoordinator(
        manifest_path,
        {n: backup_job(n) for n in ["q1", "q2", "q3", "q4"]},
        lease_timeout=0.5,
        poll_interval=0.1,
    )
    # The primary is already dead, so its manifest mtime goes stale and
    # the monitor loop must fail over within the lease.
    results = backup.monitor(max_wait=30.0)
    assert backup.active
    # Backup ran ONLY the un-committed queries...
    assert results == {"q1": None, "q2": None, "q3": "Q3", "q4": "Q4"}
    attempts = open(log_path).read().splitlines()
    assert attempts == [
        "primary:q1",
        "primary:q2",
        "primary:q3",  # the crashed attempt -- never committed
        "backup:q3",
        "backup:q4",
    ]
    # ...and the final manifest records each query committed exactly once.
    state = json.load(open(manifest_path))
    assert set(state["completed"]) == {"q1", "q2", "q3", "q4"}
    assert state["phase"] == "done"


def test_backup_stays_passive_while_primary_heartbeats(tmp_path):
    """A primary inside a long query heartbeats via manifest.touch();
    the staleness watch must not fire (backup_coordinator.go:41-47:
    fresh mtime or missing file -> no failover)."""
    from map_reduce_framework_spark.control.checkpoint import BackupCoordinator

    manifest_path = str(tmp_path / "mr-state.json")
    backup = BackupCoordinator(manifest_path, {}, lease_timeout=0.3)
    assert not backup.check_primary_failure()  # no manifest yet

    m = JobManifest(manifest_path, min_interval=0.0)
    m.set_phase("running")
    for _ in range(4):
        time.sleep(0.15)
        m.touch()  # mid-query heartbeat
        assert not backup.check_primary_failure()
    time.sleep(0.5)  # silence past the lease
    assert backup.check_primary_failure()

    # A clean finish parks the monitor without failover.
    m.set_phase("done")
    assert backup.monitor(max_wait=5.0) is None
    assert not backup.active


# --- D8 metrics surface (utils/metrics.go analog) --------------------------
def test_metrics_snapshot_and_timing(spark):
    from map_reduce_framework_spark.control import metrics

    snap = {r["metric"]: r["value"] for r in metrics.snapshot(spark).collect()}
    assert snap["spark_version"].startswith("4.")
    assert int(snap["default_parallelism"]) >= 1
    assert snap["aqe_enabled"] == "true"
    assert int(snap["active_jobs"]) >= 0 and int(snap["active_stages"]) >= 0
    assert int(snap["executors"]) >= 1  # local mode: the driver's own
    timing = metrics.time_query(spark.range(1000))
    assert timing["rows"] == 1000.0 and timing["wall_s"] > 0
