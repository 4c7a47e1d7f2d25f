"""Dispatcher/monitor composition — the reference's daemon and watcher
as batch jobs over real queue directories (SURVEY.md §3.3).

`dispatch_once` ≡ one `check_and_execute` cycle
(`scripts/starry-daemon.sh:171-206`): count queued → at-most-one-
active gate → Orbiter selection (deterministic O1 pipeline — the
reference's own fallback algorithm) → activate (file move + board
upsert). `monitor_once` ≡ one watcher cycle
(`agents/orbiter.md:151-293`): aggregate statuses → pulse.json →
stall incidents.

Wall-clock decoupling: both take `now` so tests inject a clock
(SURVEY.md §7.3 point 3). Side effects (file moves, board/pulse
writes) use the atomic tmp+rename publish — idempotent redo-safe, the
batch rendition of the streaming `foreachBatch` sink contract.

In production the same functions run on the reference cadences via
Structured Streaming triggers (topics.DAEMON_TRIGGER/WATCHER_TRIGGER)
or an external scheduler; `--once` ≡ calling them directly.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nova_pulsar_spark.plans import scheduler as S
from nova_pulsar_spark.streaming.topics import atomic_write_json

def _utcnow() -> datetime:
    """Naive-UTC wall clock (the serialization boundary is naive ISO
    strings, matching the reference's `date -u`); `datetime.utcnow()`
    is deprecated in 3.12+."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def pid_alive_probe(pid: int) -> bool:
    """Real process-table liveness probe — the production default for
    `dispatch_once(pid_alive=...)`, mirroring the reference's
    `ps -p $(cat pidfile)` (`scripts/starry-daemon.sh:77-85`).

    `os.kill(pid, 0)` sends no signal; it only checks deliverability:
    ProcessLookupError = no such process (stale pid file → the daemon
    re-dispatches, the crashed-consumer recovery), PermissionError =
    the process exists but belongs to another user (alive — exactly
    what `ps -p` would report).

    ADVICE r9: a pid file carrying an integer beyond C-int range makes
    `os.kill` raise OverflowError, which is NOT an OSError — unswallowed
    it would escape dispatch_once's per-file `except (OSError,
    ValueError)` and turn one garbage pid file into a whole-cycle
    scan_error. A pid that can't exist in the process table is dead."""
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except (OSError, OverflowError):
        return False
    return True


PLAN_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("project", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("execution_mode", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("n_phases", T.IntegerType()),
        T.StructField(
            "phases",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("phase", T.IntegerType()),
                        T.StructField("title", T.StringType()),
                        T.StructField("files", T.ArrayType(T.StringType())),
                        T.StructField("complexity", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def _read_json(spark: SparkSession, dirs: list[str], schema: T.StructType, **options):
    """The ``*.json`` files of ``dirs`` as one DataFrame, from one
    listing and one read, in at most ``defaultParallelism`` partitions;
    None when no directory exists.

    Directories, not a file glob: Spark lists a glob that expands to
    more than 32 files in a distributed job with a task per file,
    while a few directories are listed on the driver. The cap keeps a
    long history of sub-KB files (Spark packs about 32 per partition
    past 128 files) from adding tasks to every later stage."""
    if not dirs:
        return None
    df = spark.read.schema(schema).option("pathGlobFilter", "*.json").options(**options).json(dirs)
    return df.coalesce(spark.sparkContext.defaultParallelism)


def _plan_status():
    """A plan's queue state from its path: the directory right under
    its project, matched from the END of the path so that project or
    root directory names (a project called ``active``, a root under
    ``completed/``) never decide it."""
    seg = F.split(F.col("_metadata.file_path"), "/")
    state, parent = F.element_at(seg, -2), F.element_at(seg, -3)
    return (
        F.when((state == "background") & (parent == "queued"), "queued")
        .when(state == "active", "active")
        .when(state == "completed", "completed")
    )


def scan_namespaces(spark: SparkSession, root: str):
    """Every project's queued (background), active and completed plans
    as one DataFrame with a ``status`` column (S1/P8), from one read
    over the state directories that exist; None when none exists.

    Corrupt plan files raise when the frame is evaluated — FAILFAST,
    mirroring `plans/pulsar._read_queue`: a PERMISSIVE read would hand
    the Orbiter an all-null plan row instead of failing."""
    dirs = sorted(
        d
        for sub in ("queued/background", "active", "completed")
        for d in glob.glob(os.path.join(glob.escape(root), "*", sub))
    )
    plans = _read_json(spark, dirs, PLAN_SCHEMA, mode="FAILFAST")
    if plans is None:
        return None
    return plans.withColumn("status", _plan_status())


def dispatch_once(
    spark: SparkSession,
    root: str,
    now: datetime | None = None,
    scorer=None,
    handoff=None,
    pid_alive=None,
) -> dict:
    """One daemon cycle. Returns a decision record (also appended to
    the root log, reference `log()` S9).

    ``scorer`` (S11/L1): optional external-LLM plan scorer passed to
    `scheduler.select_plan` — validated `project:plan_id` reply with
    fallback to the deterministic O1 ordering (the reference daemon's
    `claude -p` seam, `scripts/starry-daemon.sh:136-151`).

    ``handoff``: optional ``(root, project, plan_id) -> record``
    callable modeling `starry-daemon.sh:203`'s call into
    `pulsar-auto.sh` — the reference order, where the daemon does NOT
    move the plan file; the spawned consumer activates it. With a
    handoff the dispatch branch invokes it INSTEAD of the local
    queued→active move + board upsert, and the returned record lands
    in the decision (`tests/test_golden_handoff.py` pins the full
    daemon→pulsar seam this way). Default None keeps the compact
    single-process semantics the daemon golden replay pins.

    Handoff idempotence: because the plan stays queued until the
    consumer activates it, a second cycle firing before that move
    would re-select the same plan. The reference closes this window
    with PID-file liveness (`starry-daemon.sh:77-85`: `ps -p $(cat
    pidfile)`); here, a QUEUED plan whose `logs/{plan_id}.pid` file
    exists and passes ``pid_alive`` is treated as IN FLIGHT and the
    cycle waits instead of re-dispatching. ``pid_alive(pid) -> bool``
    defaults to :func:`pid_alive_probe` — a real `os.kill(pid, 0)`
    process-table probe, exactly the script's `ps -p` — so a consumer
    that died without cleanup can never park the daemon in
    ``wait_in_flight`` forever; returning False marks the pid file
    stale, and the plan is re-dispatched, the reference's
    crashed-consumer recovery. Tests inject a synthetic probe.

    Pid-file lifecycle: the gate covers the spawn→activation window
    only (a QUEUED plan with a live pid). Once the consumer activates,
    the at-most-one-active gate takes over, and `pulsar.finalize_plan`
    REMOVES the pid file at completion — so pid files never
    accumulate, and a recycled OS pid can never make a long-finished
    plan look in-flight.

    Cycle shape: one file listing (`scan_namespaces` reads the
    queued, active and completed dirs in one read), one materialized
    plan table (cached by the single counts aggregate), one dependency
    self-join (`scheduler.dependency_flags` behind the selection).

    The scan cache is released and the cycle is logged even when the
    scan or the handoff raises — an unreadable queue must not leak
    cached state or leave the cycle invisible in the daemon log. A
    scan-stage failure (e.g. a corrupt plan file in any of the three
    states surfacing at the counts aggregate, which parses every plan
    file) is logged as ``scan_error`` with the exception string, never
    as a normal idle cycle; FAILFAST means one corrupt plan file halts
    dispatch for every project until it is repaired or removed —
    deliberate, the same all-stop the reference's `set -e` would
    produce."""
    now = now or _utcnow()
    if pid_alive is None:
        pid_alive = pid_alive_probe
    decision: dict = {"at": now.isoformat(), "action": "idle"}
    plans = None
    try:
        plans = scan_namespaces(spark, root)
        if plans is None:
            return decision
        # The one materialized plan table: the counts below scan it into
        # the cache, and the selection reads it from there.
        plans = plans.cache()
        counts = plans.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("status") == "queued", 1)).alias("n_queued"),
            F.count(F.when(F.col("status") == "active", 1)).alias("n_active"),
        ).first()
        if counts.n == 0:
            return decision  # state dirs exist but hold no plan file yet
        n_queued, n_active = counts.n_queued, counts.n_active
        decision.update({"n_queued": n_queued, "n_active": n_active})
        in_flight: set[str] = set()
        if handoff is not None and n_queued > 0:
            import glob as _glob

            for p in _glob.glob(os.path.join(root, "*", "logs", "*.pid")):
                try:
                    pid = int(open(p).read().strip())
                except (OSError, ValueError):
                    continue
                if pid_alive(pid):
                    in_flight.add(os.path.splitext(os.path.basename(p))[0])
        if n_queued == 0:
            decision["action"] = "idle"  # starry-daemon.sh:178 "No queued plans"
        elif n_active > 0:
            decision["action"] = "wait"  # at-most-one-active gate (P2)
        elif in_flight and plans.filter(
            (F.col("status") == "queued") & F.col("id").isin(in_flight)
        ).take(1):
            # a handed-off consumer is still between spawn and
            # activation — sequential mode waits, it does not respawn
            decision["action"] = "wait_in_flight"
            decision["in_flight"] = sorted(in_flight)
        else:
            # Orbiter pipeline on the scanned metadata (flatten phases)
            plan_meta = plans.select(
                "id", "title", "project", "type", "status", "execution_mode", "created_at", "n_phases"
            )
            phases = plans.select(
                F.col("id").alias("plan_id"), F.explode("phases").alias("ph")
            ).select(
                "plan_id", F.col("ph.phase").alias("phase"), F.col("ph.files").alias("files")
            )
            best = S.select_plan(plan_meta, phases, scorer=scorer).collect()
            if not best:
                decision["action"] = "blocked"  # queued but all dependency-blocked
            else:
                chosen = best[0]
                project, plan_id = chosen.project, chosen.id
                if handoff is not None:
                    # reference order (starry-daemon.sh:203): trigger the
                    # consumer; the plan file stays queued until IT activates
                    try:
                        record = handoff(root, project, plan_id)
                    except Exception as e:
                        decision.update(
                            {"action": "handoff_error", "project": project,
                             "plan_id": plan_id, "error": str(e)}
                        )
                        raise
                    decision.update(
                        {
                            "action": "dispatch",
                            "project": project,
                            "plan_id": plan_id,
                            "handoff": record,
                        }
                    )
                else:
                    # Q2 activation: atomic file move queued → active
                    src = os.path.join(root, project, "queued/background", f"{plan_id}.json")
                    dst_dir = os.path.join(root, project, "active")
                    os.makedirs(dst_dir, exist_ok=True)
                    os.replace(src, os.path.join(dst_dir, f"{plan_id}.json"))
                    _update_board(root, project, plan_id, "active", now)
                    decision.update({"action": "dispatch", "project": project, "plan_id": plan_id})
    except Exception as e:
        # A crashed SCAN must not be logged as a normal idle cycle
        # (ADVICE r8): mark it, unless the handoff branch already
        # recorded its own error action.
        if "error" not in decision:
            decision.update({"action": "scan_error", "error": str(e)})
        raise
    finally:
        if plans is not None:
            plans.unpersist()
        _log(root, decision)
    return decision


def dispatch_stream(
    spark: SparkSession,
    root: str,
    checkpoint_dir: str,
    now: datetime | None = None,
    scorer=None,
) -> list[tuple[str, str]]:
    """J7 stream-static guard join (`scripts/starry-daemon.sh:175-195`)
    in true streaming form: the queued-plan stream is LEFT-ANTI joined
    against the static active-plan set (projects with an active plan
    are guarded out — the daemon's "a plan is currently active,
    waiting" branch), then each micro-batch runs the Orbiter top-1
    selection and publishes the dispatch decision atomically.

    Returns the (project, plan_id) decisions for assertion; uses
    ``Trigger.AvailableNow`` (the daemon's ``--once``) so tests drive a
    complete cycle synchronously.
    """
    now = now or _utcnow()
    stream = (
        spark.readStream.schema(PLAN_SCHEMA)
        .option("pathGlobFilter", "*.json")
        .json(os.path.join(root, "*", "queued", "background"))
    )
    plans = scan_namespaces(spark, root)
    if plans is not None:
        active = plans.filter(F.col("status") == "active")
        # the stream-static guard join: static side re-planned per batch
        guarded = stream.join(active.select("project").distinct(), "project", "left_anti")
    else:
        guarded = stream

    dispatched: list[tuple[str, str]] = []

    def handle(batch_df, batch_id: int) -> None:
        plan_meta = batch_df.select(
            "id", "title", "project", "type", F.lit("queued").alias("status"),
            "execution_mode", "created_at", "n_phases",
        )
        phases = batch_df.select(
            F.col("id").alias("plan_id"), F.explode("phases").alias("ph")
        ).select("plan_id", F.col("ph.phase").alias("phase"), F.col("ph.files").alias("files"))
        best = S.select_plan(plan_meta, phases, scorer=scorer).collect()
        if best:
            chosen = best[0]
            atomic_write_json(
                root,
                f"dispatch-{batch_id}.json",
                {
                    "action": "dispatch",
                    "project": chosen.project,
                    "plan_id": chosen.id,
                    "at": now.isoformat(),
                },
            )
            dispatched.append((chosen.project, chosen.id))

    q = (
        guarded.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return dispatched


def monitor_once(
    spark: SparkSession, root: str, now: datetime, stall_minutes: int = 10
) -> dict:
    """One watcher cycle: status scan → pulse.json + incidents."""
    from nova_pulsar_spark.streaming.topics import STATUS_SCHEMA

    status_dirs = sorted(glob.glob(os.path.join(glob.escape(root), "*", "status")))
    try:
        se = _read_json(spark, status_dirs, STATUS_SCHEMA)
        empty = se is None or not se.take(1)
    except Exception:
        empty = True
    if empty:
        pulse = {"updated_at": now.isoformat(), "rounds": [], "incidents": []}
        atomic_write_json(root, "pulse.json", pulse)
        return pulse
    latest = S.latest_status(se)
    now_col = F.to_timestamp(F.lit(now.strftime("%Y-%m-%d %H:%M:%S")))
    flagged = S.stalled(latest, now_col, stall_minutes)

    # The nested rollup is built IN SPARK (A3, orbiter.md:198-242):
    # per-plan phase arrays via sort_array(collect_list(struct)), plans
    # collected into one document column with to_json — the driver
    # fetches a single serialized row, never per-(plan, phase) rows.
    # At 100× plan counts this stays a two-level tree aggregation.
    phase_struct = F.struct(
        F.col("phase"),
        F.col("status"),
        F.col("tool_count"),
        F.col("last_tool"),
        F.date_format("updated_at", "yyyy-MM-dd'T'HH:mm:ss").alias("updated_at"),
        F.col("stalled"),
    )
    rounds_df = flagged.groupBy("plan_id", "project").agg(
        F.sort_array(F.collect_list(phase_struct)).alias("phases")
    )
    rounds_doc = rounds_df.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("plan_id"), F.col("project"), F.col("phases")))
        ).alias("rounds")
    )
    incidents_doc = (
        flagged.filter(F.col("stalled"))
        .select(
            F.struct(
                F.lit("stalled_kill").alias("type"),
                F.col("project"),
                F.col("plan_id"),
                F.col("phase"),
                F.lit(now.isoformat()).alias("killed_at"),
                F.floor(
                    (F.unix_timestamp(now_col) - F.unix_timestamp("updated_at")) / 60
                ).cast("int").alias("stalled_for_minutes"),
            ).alias("inc")
        )
        .agg(F.sort_array(F.collect_list("inc")).alias("incidents"))
    )
    doc_row = (
        rounds_doc.crossJoin(incidents_doc)
        .select(
            F.to_json(
                F.struct(
                    F.lit(now.isoformat()).alias("updated_at"),
                    F.col("rounds"),
                    F.col("incidents"),
                )
            ).alias("pulse")
        )
        .first()
    )
    pulse = json.loads(doc_row["pulse"])
    # to_json drops null-valued fields; restore them so the pulse file
    # shape is stable for consumers regardless of phase state.
    pulse.setdefault("rounds", [])
    pulse.setdefault("incidents", [])
    for g in pulse["rounds"]:
        for p in g["phases"]:
            p.setdefault("last_tool", None)
    atomic_write_json(root, "pulse.json", pulse)
    return pulse


def watcher_should_exit(spark: SparkSession, root: str) -> bool:
    """Q8 watcher auto-exit (`agents/orbiter.md:282-293`): stop the
    monitor loop when no plan is active anywhere."""
    plans = scan_namespaces(spark, root)
    if plans is None:
        return True
    return plans.filter(F.col("status") == "active").limit(1).count() == 0


def _update_board(root: str, project: str, plan_id: str, status: str, now: datetime) -> None:
    """Board upsert (S6/J3): read-modify-write with atomic publish."""
    board_path = os.path.join(root, "board.json")
    entries = []
    if os.path.exists(board_path):
        entries = json.load(open(board_path)).get("entries", [])
    found = False
    for entry in entries:
        if entry.get("id") == plan_id:
            entry["status"] = status
            entry["updatedAt"] = now.isoformat()
            found = True
    if not found:
        entries.append({"id": plan_id, "project": project, "status": status, "updatedAt": now.isoformat()})
    atomic_write_json(root, "board.json", {"entries": entries})


def _log(root: str, record: dict) -> None:
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "daemon.log"), "a") as f:
        f.write(f"{record['at']} - {json.dumps(record, default=str)}\n")
