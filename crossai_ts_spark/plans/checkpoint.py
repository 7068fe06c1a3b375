"""Per-partition checkpoint manifests + anti-join resume (north_rule).

Unit of work = a doc-hash bucket: ``bucket = pmod(xxhash64(doc_id), B)``.
Deterministic, uniform even under Zipfian source/doc skew, and prunable —
the output is laid out ``bucket=B/tier=K`` so both retention queries and
resume touch only the partitions they need:

  out/data/bucket=B/tier=K/part-P.parquet         tier rows (TIER_SCHEMA)
  out/compressed/bucket=B/tier=K/part-P.parquet   one Gorilla + ΔΔ segment
                                                  of t_mean per doc series
P is the id of the input partition that made the file.

Commit protocol per bucket (driver-local posix path; Iceberg snapshots
replace it when the catalog is available):
  1. ONE Spark job, a ``collect`` of a ``mapInPandas``: each task runs the
     cascade on its Arrow batches of the bucket's sequences rows, encodes
     each doc's windows of each tier (already contiguous and in order in
     the batch, so nothing is sorted or shuffled), writes both tables with
     pyarrow under out/_tmp/bucket=B/{data,compressed}/tier=K/ and returns
     one figures row per tier. Each file is written under a hidden name
     (``.part-P-A.tmp``, which Spark's reader skips) and renamed to
     ``part-P.parquet``: a file's bytes depend only on its input partition,
     so a retried or speculative attempt writes the same file, and
     ``collect`` returns figures only from tasks that succeeded.
  2. atomic renames -> out/data/bucket=B/ and out/compressed/bucket=B/
  3. write manifest  out/_manifests/B.json  (temp + rename, atomic)
A re-commit unlinks the old manifest before step 2 touches the old output,
so a kill at any step leaves the bucket pending, never done-but-empty.

Manifest carries lineage + metrics per tier: rows, token counts, series,
min/max window_start, segments, segment bytes and bytes written, plus the
bucket's input rows (null and empty ``tokens`` rows included), wall time,
input snapshot id, code version and the output ``layout`` — the
north_rule's "lineage + metrics emitted per retention tier" — and the
run's layout parameters (n_buckets, w, fanout, n_tiers). Every figure
comes from the tasks' figures rows: nothing re-reads the bucket.

A run that is not a resume first drops every committed bucket at or above
its bucket count (``drop_buckets_from``), so a smaller ``--buckets`` never
leaves an older run's extra buckets in ``data/`` or ``compressed/``.

Resume = list manifest dir, anti-join pending buckets (driver-side set
difference on at most B elements — no data scan). Given the run's
parameters, resume refuses manifests written with different ones: a
different bucket count would silently mix bucket assignments. It also
refuses manifests of another ``layout``, such as those of the job that
wrote one global ``compressed/`` table after all buckets.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import urllib.parse
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .. import __version__
from ..functions.codecs import encode_segments
from ..operators.rollup import cascade_batch, tier_widths
from ..schema import COMPRESSED_TIER_SCHEMA, TIER_SCHEMA
from ..workers import worker_kernel

# the output layout the manifests vouch for; resume refuses any other
LAYOUT = "bucket=B/tier=K data + compressed"

# per-tier manifest figures, one long each in the kernel's figures rows
FIGURES = ("rows", "tokens", "docs", "min_window_start", "max_window_start",
           "segments", "segment_bytes", "bytes_written")
FIGURES_SCHEMA = "tier int, input_rows long, " + ", ".join(f"{f} long" for f in FIGURES)


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
    run's values; a completed manifest that disagrees, or that has another
    :data:`LAYOUT`, raises ValueError naming the field."""
    done = completed_buckets(out_dir)
    for b in sorted(done):
        path = os.path.join(manifest_dir(out_dir), f"{b}.json")
        with open(path) as f:
            m = json.load(f)
        for field, want in {"layout": LAYOUT, **expect}.items():
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


def _bucket_dirs(parent: str) -> dict[int, str]:
    """``{B: path}`` of the ``bucket=B`` directories under ``parent``."""
    out = {}
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            if d.startswith("bucket="):
                with contextlib.suppress(ValueError):
                    out[int(d[len("bucket="):])] = os.path.join(parent, d)
    return out


def drop_buckets_from(out_dir: str, first: int) -> list[int]:
    """Remove every committed bucket numbered ``first`` or higher, each
    manifest before its ``data/`` and ``compressed/`` directories, so a kill
    in between leaves the bucket pending. Returns the dropped bucket numbers.

    Anything else in ``compressed/`` goes too: it is the global segment
    table of the layout before segments were written per bucket, and its
    ``tier=K`` directories would clash with the ``bucket=B`` ones."""
    seg_dir = os.path.join(out_dir, "compressed")
    data, segs = _bucket_dirs(os.path.join(out_dir, "data")), _bucket_dirs(seg_dir)
    stale = sorted(b for b in completed_buckets(out_dir) | data.keys() | segs.keys() if b >= first)
    for b in stale:
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(manifest_dir(out_dir), f"{b}.json"))
        for dirs in (data, segs):
            if b in dirs:
                shutil.rmtree(dirs[b])
    if os.path.isdir(seg_dir):
        for d in os.listdir(seg_dir):
            if not d.startswith("bucket="):
                path = os.path.join(seg_dir, d)
                if os.path.isdir(path):
                    shutil.rmtree(path)
                else:
                    os.remove(path)
    return stale


def _file_schema(spark_schema) -> pa.Schema:
    """The Arrow schema of a table's files: ``tier`` lives in the path."""
    schema = to_arrow_schema(spark_schema)
    return schema.remove(schema.get_field_index("tier"))


def _bucket_kernel(tmp_dir: str, widths: list[int], fanout: int):
    """The commit's task: cascade + segment encode + both parquet writes of
    one input partition, and its figures rows (one per tier)."""
    schemas = {"data": _file_schema(TIER_SCHEMA), "compressed": _file_schema(COMPRESSED_TIER_SCHEMA)}

    def kernel(batches):
        ctx = TaskContext.get()
        part, attempt = ctx.partitionId(), ctx.attemptNumber()
        figs = [{**dict.fromkeys(FIGURES, 0), "min_window_start": np.iinfo(np.int64).max} for _ in widths]
        files: dict[tuple[str, int], tuple[pq.ParquetWriter, str]] = {}
        input_rows = 0

        def write(table: str, k: int, cols: dict) -> None:
            if (table, k) not in files:
                d = os.path.join(tmp_dir, table, f"tier={k}")
                os.makedirs(d, exist_ok=True)
                tmp = os.path.join(d, f".part-{part:05d}-{attempt}.tmp")
                files[table, k] = open_files.enter_context(pq.ParquetWriter(tmp, schemas[table])), tmp
            files[table, k][0].write_table(pa.table(cols, schema=schemas[table]))

        with contextlib.ExitStack() as open_files:
            for pdf in batches:
                input_rows += len(pdf)
                # NONEMPTY, applied here so that input_rows counts the dropped rows
                keep = np.fromiter((t is not None and len(t) > 0 for t in pdf["tokens"]), dtype=bool,
                                   count=len(pdf))
                pdf = pdf[keep]
                if not len(pdf):
                    continue
                keys = {"doc_id": pdf["doc_id"].to_numpy(), "source": pdf["source"].to_numpy()}
                for k, (nw, cols) in enumerate(cascade_batch(pdf, widths, fanout), start=1):
                    del cols["tier"]  # in the path
                    seg = encode_segments(keys, cols["window_start"], cols["t_mean"], nw)
                    write("data", k, cols)
                    write("compressed", k, seg)
                    f, ws = figs[k - 1], cols["window_start"]
                    f["min_window_start"] = min(f["min_window_start"], int(ws.min()))
                    f["max_window_start"] = max(f["max_window_start"], int(ws.max()))
                    f["rows"] += ws.size
                    f["tokens"] += int(cols["t_cnt"].sum())
                    f["docs"] += int((ws == 0).sum())
                    f["segments"] += nw.size
                    f["segment_bytes"] += sum(map(len, seg["ts_blob"])) + sum(map(len, seg["val_blob"]))
        for (table, k), (_, tmp) in files.items():
            figs[k - 1]["bytes_written"] += os.path.getsize(tmp)
            os.replace(tmp, os.path.join(os.path.dirname(tmp), f"part-{part:05d}.parquet"))
        yield pd.DataFrame([{"tier": k, "input_rows": input_rows, **f} for k, f in enumerate(figs, start=1)])

    return kernel


def commit_bucket(
    seqs_df: DataFrame,
    out_dir: str,
    bucket: int,
    input_snapshot: str,
    params: dict,
) -> dict:
    """Roll up, encode and commit one bucket's ``sequences`` rows with the
    atomic commit protocol, in one Spark job.

    Returns the manifest payload (also written to disk). ``params`` (the
    run's n_buckets, w, fanout, n_tiers) go into the manifest next to
    ``input_snapshot`` for ``pending_buckets`` to check on resume;
    ``params["w"]``, ``["fanout"]`` and ``["n_tiers"]`` shape the cascade.

    Per tier k the manifest holds rows, tokens (sum of ``t_cnt``), min/max
    ``window_start``, ``docs``, ``segments``, ``segment_bytes`` (both blobs)
    and ``bytes_written`` (both tables' files). ``docs`` and ``segments``
    count doc SERIES, i.e. input rows with tokens (each has exactly one row
    with ``window_start = 0`` and one segment per tier), not distinct
    ``doc_id`` values: an input that repeats a doc_id counts, and encodes,
    each of its series apart. Tiers with no rows are left out.
    ``input_rows`` counts every row of the bucket, null and empty
    ``tokens`` included, so ``input_rows - tiers["1"]["docs"]`` is the
    number of rows that had nothing to roll up.

    The atomic-rename commit requires a DRIVER-LOCAL posix path that the
    executors see at the same place: the tasks write the parquet files, the
    driver validates and renames through os/shutil. Remote URIs (hdfs://,
    s3a://, ...) need the Hadoop FileSystem API or Iceberg snapshot commits
    instead — rejected here rather than silently producing a directory the
    executors can't see.
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
    out_dir = os.path.abspath(out_dir)  # the tasks resolve it, not the driver's cwd
    widths = tier_widths(params["w"], params["fanout"], params["n_tiers"])
    t0 = time.monotonic()
    tmp_dir = os.path.join(out_dir, "_tmp", f"bucket={bucket}")
    if os.path.isdir(tmp_dir):
        shutil.rmtree(tmp_dir)  # stale half-write from a dead attempt
    os.makedirs(tmp_dir)

    kernel = worker_kernel(_bucket_kernel(tmp_dir, widths, params["fanout"]))
    figs = seqs_df.select("doc_id", "source", "tokens").mapInPandas(kernel, FIGURES_SCHEMA).collect()
    # the old manifest goes first: from here on the bucket is pending
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(manifest_dir(out_dir), f"{bucket}.json"))
    for table in ("data", "compressed"):
        final_dir = os.path.join(out_dir, table, f"bucket={bucket}")
        if os.path.isdir(final_dir):
            shutil.rmtree(final_dir)  # idempotent re-commit
        os.makedirs(os.path.dirname(final_dir), exist_ok=True)
        os.makedirs(os.path.join(tmp_dir, table), exist_ok=True)  # an empty bucket wrote no file
        os.replace(os.path.join(tmp_dir, table), final_dir)
    os.rmdir(tmp_dir)

    tiers = {}
    for k in range(1, len(widths) + 1):
        rows = [r for r in figs if r.tier == k and r.rows]
        if rows:
            tiers[str(k)] = {f: sum(getattr(r, f) for r in rows) for f in FIGURES}
            tiers[str(k)]["min_window_start"] = min(r.min_window_start for r in rows)
            tiers[str(k)]["max_window_start"] = max(r.max_window_start for r in rows)
    payload = {
        "bucket": bucket,
        "layout": LAYOUT,
        "input_snapshot": input_snapshot,
        **params,
        "code_version": __version__,
        "committed_at_unix": time.time(),
        "wall_sec": time.monotonic() - t0,
        "input_rows": sum(r.input_rows for r in figs if r.tier == 1),
        "tiers": tiers,
    }
    write_manifest(out_dir, bucket, payload)
    return payload
