"""Per-partition checkpoint manifests + anti-join resume (north_rule).

Unit of work = a doc-hash bucket: ``bucket = pmod(xxhash64(doc_id), B)``.
Deterministic, uniform even under Zipfian source/doc skew, and prunable —
the output is laid out ``tier=K/bucket=B`` so both retention queries and
resume touch only the partitions they need.

Commit protocol per bucket (works on any posix-ish FS; Iceberg snapshots
replace it when the catalog is available):
  1. write parquet to   out/_tmp/bucket=B/
  2. fsync-free atomic  rename -> out/data/bucket=B/        (idempotent)
  3. write manifest     out/_manifests/B.json  (temp + rename, atomic)
A re-commit unlinks the old manifest before step 2 touches the old data,
so a kill at any step leaves the bucket pending, never done-but-empty.

Manifest carries lineage + metrics per tier: rows, token counts, series,
min/max window_start, wall time, input snapshot id, code version — the
north_rule's "lineage + metrics emitted per retention tier" — plus the
run's layout parameters (n_buckets, w, fanout, n_tiers). The per-tier
figures are observed (``DataFrame.observe``) on the rows the write itself
consumes, so a commit is one Spark job: nothing re-reads the bucket.

A run that is not a resume first drops every committed bucket at or above
its bucket count (``drop_buckets_from``), so a smaller ``--buckets`` never
leaves an older run's extra buckets in ``data/``.

Resume = list manifest dir, anti-join pending buckets (driver-side set
difference on at most B elements — no data scan). Given the run's
parameters, resume refuses manifests written with different ones: a
different bucket count would silently mix bucket assignments.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import __version__


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int"))


def manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifests")


def completed_buckets(out_dir: str) -> set[int]:
    mdir = manifest_dir(out_dir)
    if not os.path.isdir(mdir):
        return set()
    out = set()
    for f in os.listdir(mdir):
        if f.endswith(".json"):
            try:
                out.add(int(f[: -len(".json")]))
            except ValueError:
                continue
    return out


def pending_buckets(out_dir: str, n_buckets: int, expect: dict) -> list[int]:
    """Buckets without a manifest. ``expect`` maps manifest fields to this
    run's values; a completed manifest that disagrees raises ValueError."""
    done = completed_buckets(out_dir)
    for b in sorted(done):
        path = os.path.join(manifest_dir(out_dir), f"{b}.json")
        with open(path) as f:
            m = json.load(f)
        for field, want in expect.items():
            if m.get(field) != want:
                raise ValueError(
                    f"cannot resume: {path} has {field}={m.get(field)!r}, "
                    f"this run has {field}={want!r}; use the original settings or a fresh --out"
                )
    return [b for b in range(n_buckets) if b not in done]


def write_manifest(out_dir: str, bucket: int, payload: dict) -> None:
    """Atomic JSON write: temp file + rename."""
    mdir = manifest_dir(out_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".{bucket}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(mdir, f"{bucket}.json"))


def drop_buckets_from(out_dir: str, first: int) -> list[int]:
    """Remove every committed bucket numbered ``first`` or higher, each
    manifest before its data, so a kill in between leaves the bucket
    pending. Returns the dropped bucket numbers."""
    data_dir = os.path.join(out_dir, "data")
    data = {}
    if os.path.isdir(data_dir):
        for d in os.listdir(data_dir):
            if d.startswith("bucket="):
                with contextlib.suppress(ValueError):
                    data[int(d[len("bucket="):])] = os.path.join(data_dir, d)
    stale = sorted(b for b in completed_buckets(out_dir) | data.keys() if b >= first)
    for b in stale:
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(manifest_dir(out_dir), f"{b}.json"))
        if b in data:
            shutil.rmtree(data[b])
    return stale


def _tier_metrics(n_tiers: int) -> list:
    """Per-tier manifest figures as observable aggregates (no DISTINCT:
    Spark rejects it in observed metrics)."""
    ws = F.col("window_start")
    cols = []
    for k in range(1, n_tiers + 1):
        in_k = F.col("tier") == k
        cols += [
            F.count_if(in_k).alias(f"rows_{k}"),
            F.sum(F.when(in_k, F.col("t_cnt"))).alias(f"tokens_{k}"),
            F.count_if(in_k & (ws == 0)).alias(f"docs_{k}"),
            F.min(F.when(in_k, ws)).alias(f"min_ws_{k}"),
            F.max(F.when(in_k, ws)).alias(f"max_ws_{k}"),
        ]
    return cols


def commit_bucket(
    tier_df: DataFrame,
    out_dir: str,
    bucket: int,
    input_snapshot: str,
    params: dict,
) -> dict:
    """Materialize one bucket's tier rows with the atomic commit protocol.

    Returns the manifest payload (also written to disk). ``params`` (the
    run's n_buckets, w, fanout, n_tiers) go into the manifest next to
    ``input_snapshot`` for ``pending_buckets`` to check on resume;
    ``params["n_tiers"]`` names the tiers whose figures the write observes.

    Per tier k the manifest holds rows, tokens (sum of ``t_cnt``), min/max
    ``window_start`` and ``docs``. ``docs`` counts doc SERIES, i.e. rows
    with ``window_start = 0`` (every series has exactly one per tier), not
    distinct ``doc_id`` values: an input that repeats a doc_id counts each
    of its series. Tiers with no rows are left out.

    The atomic-rename commit requires a DRIVER-LOCAL posix path: Spark
    writes the parquet, but validation + rename run through os/shutil on
    the driver. Remote URIs (hdfs://, s3a://, ...) need the Hadoop
    FileSystem API or Iceberg snapshot commits instead — rejected here
    rather than silently producing a directory the executors can't see.
    """
    # urlparse catches Hadoop-style single-slash URIs ('file:/tmp/out',
    # 'hdfs:/x') that a '://'-only check would treat as relative paths
    parsed = urllib.parse.urlparse(out_dir)
    if parsed.scheme and parsed.scheme != "file":
        raise ValueError(
            f"commit_bucket requires a driver-local posix path, got scheme "
            f"'{parsed.scheme}://' — use Iceberg snapshot commits (or a "
            f"Hadoop FileSystem rename job) for remote stores"
        )
    if parsed.scheme == "file":
        if parsed.netloc not in ("", "localhost"):
            raise ValueError(
                f"commit_bucket: non-local file URI authority "
                f"'{parsed.netloc}' in {out_dir!r}"
            )
        out_dir = parsed.path
    n_tiers = params["n_tiers"]
    t0 = time.monotonic()
    tmp_dir = os.path.join(out_dir, "_tmp", f"bucket={bucket}")
    final_dir = os.path.join(out_dir, "data", f"bucket={bucket}")
    if os.path.isdir(tmp_dir):
        shutil.rmtree(tmp_dir)  # stale half-write from a dead attempt

    # per-tier lineage metrics from the rows the write consumes: the observe
    # sits directly under the writer, so it runs in the write's result stage,
    # whose accumulator updates Spark merges once per successful task
    obs = Observation()
    tier_df.observe(obs, *_tier_metrics(n_tiers)).write.mode("overwrite").partitionBy("tier").parquet(tmp_dir)
    stats = obs.get
    # the old manifest goes first: from here on the bucket is pending
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(manifest_dir(out_dir), f"{bucket}.json"))
    if os.path.isdir(final_dir):
        shutil.rmtree(final_dir)  # idempotent re-commit
    os.makedirs(os.path.dirname(final_dir), exist_ok=True)
    os.replace(tmp_dir, final_dir)

    payload = {
        "bucket": bucket,
        "input_snapshot": input_snapshot,
        **params,
        "code_version": __version__,
        "committed_at_unix": time.time(),
        "wall_sec": time.monotonic() - t0,
        "tiers": {
            str(k): {
                "rows": stats[f"rows_{k}"],
                "tokens": int(stats[f"tokens_{k}"]),
                "docs": stats[f"docs_{k}"],
                "min_window_start": int(stats[f"min_ws_{k}"]),
                "max_window_start": int(stats[f"max_ws_{k}"]),
            }
            for k in range(1, n_tiers + 1)
            if stats[f"rows_{k}"]
        },
    }
    write_manifest(out_dir, bucket, payload)
    return payload
