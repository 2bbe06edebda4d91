"""Per-layer metrics of one traced operation set, from its spans and the
Spark REST API.

``main`` is the span of the ``run_job`` call that wrote data, ``resume``
the span of the call that resumed (the same span on ``resume_read``) and
``reassemble`` the span of the reassembly.
"""

from __future__ import annotations

from tracing import RestSnapshot, Tracer, jobs_wall

_PY = "MapInPandas/"
_SCAN = "Scan parquet/"
_WRITE = "Execute InsertIntoHadoopFsRelationCommand/"


def layer_metrics(
    snap: RestSnapshot, tracer: Tracer, main: str, resume: str, reassemble: str
) -> dict[str, tuple[float, str]]:
    write = f"{main}/pipeline.write"
    sql = snap.sql_metrics(write)
    write_stages = snap.stages_of(snap.jobs_of(write))
    # the map side of the write job runs scan -> extract -> shuffle write;
    # the reduce side sorts and writes the files
    extract_stage = max(
        (s for s in write_stages if s["shuffleWriteBytes"] > 0),
        key=lambda s: s["executorRunTime"],
    )
    file_stage = max(write_stages, key=lambda s: s["outputBytes"])
    lineage = f"{main}/checkpoint.commit_staged/checkpoint.write_lineage"
    re_stages = snap.stages_of(snap.jobs_of(reassemble))
    m = {
        # workers are reused, so they start in the warm-up (or the crashed
        # run) and this total covers the whole application
        "extract.python_start_s": (snap.sql_metrics()[_PY + "time to start Python workers"], "s"),
        "extract.python_init_s": (sql[_PY + "time to initialize Python workers"], "s"),
        "extract.python_run_s": (sql[_PY + "time to run Python workers"], "s"),
        "extract.arrow_sent_bytes": (sql[_PY + "data sent to Python workers"], "B"),
        "extract.arrow_received_bytes": (sql[_PY + "data returned from Python workers"], "B"),
        "extract.task_skew": (snap.task_skew(extract_stage), "ratio"),
        "sources.files_read": (sql[_SCAN + "number of files read"], "count"),
        "sources.bytes_read": (sql[_SCAN + "size of files read"], "B"),
        "sources.scan_s": (sql[_SCAN + "scan time"], "s"),
        "pipeline.spark_jobs": (len(snap.jobs_of(main)), "count"),
        "pipeline.empty_probe_s": (jobs_wall(snap.jobs_of(f"{main}/pipeline.empty_probe")), "s"),
        "pipeline.write_s": (jobs_wall(snap.jobs_of(write)), "s"),
        "pipeline.stats_s": (
            jobs_wall(
                snap.jobs_of(f"{main}/pipeline.read_parquet")
                + snap.jobs_of(f"{main}/pipeline.stats")
            ),
            "s",
        ),
        "pipeline.observe_plan_s": (tracer.total(f"{main}/pipeline.observe_plan"), "s"),
        "pipeline.shuffle_write_bytes": (sum(s["shuffleWriteBytes"] for s in write_stages), "B"),
        "pipeline.files_written": (sql[_WRITE + "number of written files"], "count"),
        "pipeline.write_task_skew": (snap.task_skew(file_stage), "ratio"),
        "checkpoint.commit_s": (tracer.total(f"{main}/checkpoint.commit_staged"), "s"),
        "checkpoint.lineage_writes": (tracer.count(lineage), "count"),
        "checkpoint.lineage_write_s": (tracer.total(lineage), "s"),
        "checkpoint.completed_buckets_s": (
            tracer.total(f"{resume}/checkpoint.completed_buckets"),
            "s",
        ),
        "checkpoint.manifest_s": (tracer.total(f"{main}/checkpoint.backup_manifest"), "s"),
        "checkpoint.staging_sweep_s": (tracer.total(f"{main}/checkpoint.clean_stale_staging"), "s"),
        "reassemble.wall_s": (tracer.total(reassemble), "s"),
        "reassemble.shuffle_bytes": (sum(s["shuffleWriteBytes"] for s in re_stages), "B"),
        "reassemble.task_skew": (
            snap.task_skew(max(re_stages, key=lambda s: s["executorRunTime"])),
            "ratio",
        ),
        "trace.coverage": (tracer.coverage(main), "ratio"),
    }
    return m
