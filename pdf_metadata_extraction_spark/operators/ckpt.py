"""Checkpoint-sidecar I/O through the Hadoop FileSystem API — shared
by the resumable iterative operators (connected components' star
rounds, PageRank's iterations).

Why not driver-local open()/os.path: a checkpoint_dir may live on ANY
Spark-visible filesystem (hdfs://, s3a://, file:, bare local path) —
the parquet round/iteration files already go through Hadoop, and
mixing in driver-local I/O for the sidecars would crash after the
first round on a real cluster and make resume silently see no rounds.
Bare local paths still work through this API, and URI-form paths
become testable (the CC file:-URI test exercises exactly that).
"""

from __future__ import annotations

import json


def fs_for(spark, path_str: str):
    """(Hadoop FileSystem, Path) for a path string in any scheme."""
    # a JVM class by its full name is one py4j lookup; walking
    # spark._jvm.org.apache... sends one per package segment, each a
    # failed class load on the JVM (2.75 ms against 0.08 ms, warm)
    jpath = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path_str)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def fs_exists(spark, path_str: str) -> bool:
    fs, p = fs_for(spark, path_str)
    return fs.exists(p)


def fs_read_json(spark, path_str: str) -> dict:
    fs, p = fs_for(spark, path_str)
    stream = fs.open(p)
    try:
        raw = getattr(spark._jvm, "org.apache.commons.io.IOUtils").toByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(raw).decode("utf-8"))


def fs_write_json(spark, path_str: str, obj: dict) -> None:
    fs, p = fs_for(spark, path_str)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()


def reset_dir_if_input_changed(spark, root: str, input_fp: dict) -> None:
    """Guard a resumable checkpoint dir with an input fingerprint.

    A resume that trusts whatever completed rounds it finds under
    ``root`` silently returns WRONG results if a caller reuses the dir
    with a different input (kg_run scopes dirs by run_id, but the API
    itself must not depend on that). On first run the fingerprint is
    written to ``{root}/_input.json``; on re-entry a mismatch wipes the
    dir (stale rounds beyond the new run's count would otherwise be
    picked up by a LATER resume) and re-stamps it.

    A NON-EMPTY dir with NO marker is treated as a mismatch too: rounds
    of unknown provenance (written by a pre-marker release, or a
    half-wiped dir) must never be trusted by resume, so the dir is
    wiped before stamping (round-4 ADVICE: stamping over unmarked data
    would have blessed it silently).
    """
    fs, jroot = fs_for(spark, root)
    fs.mkdirs(jroot)
    marker = f"{root.rstrip('/')}/_input.json"
    if fs_exists(spark, marker):
        if fs_read_json(spark, marker) == input_fp:
            return
        fs.delete(jroot, True)
        fs.mkdirs(jroot)
    elif len(fs.listStatus(jroot)) > 0:
        fs.delete(jroot, True)
        fs.mkdirs(jroot)
    fs_write_json(spark, marker, input_fp)
