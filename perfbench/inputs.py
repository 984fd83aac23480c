"""Cached benchmark input: synthesized transcripts plus golden labels.

For one ``--seed`` this writes, under ``common.input_dir(seed)``:

* ``turns/`` — the transcript table, one parquet file per synthesis
  chunk, plus a ``row_id`` column so every output row can be matched to
  its golden label even when two synthesized conversations share a
  ``conv_id``;
* ``stream/`` — the first ``STREAM_FILES`` hundredths of the table, one
  small parquet file each: the source of the streaming probe;
* ``golden/`` — ``labeler.ReferenceLabeler``'s ``keep`` and
  ``scrubbed_text`` for every row;
* ``meta.json`` — turn count, golden kept count and a content fingerprint.
  It is written last, so its presence marks a complete cache entry.

The rows are exactly those of ``fixtures.generate_transcripts_distributed
(spark, N_CONVS, seed, convs_per_task=CONVS_PER_CHUNK)``: chunk
``c`` is ``generate_transcripts(take, seed=seed + c)``, the call that
function makes on each executor (pinned by ``test_perfbench.py``).  They
are made here in a process pool instead of a Spark job, because a cache
miss must not start a second JVM: a run's whole budget is about a minute.
Nothing here runs in the measuring process or its JVM, so they start from
the same cold state whether the cache was hit or not.

Run: ``python3 perfbench/inputs.py --seed 42``
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing
import os
import subprocess
import sys
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


CONVS_PER_CHUNK = common.N_CONVS // common.SYNTH_CHUNKS
N_CHUNKS = -(-common.N_CONVS // CONVS_PER_CHUNK)


def chunk_rows(seed: int, chunk: int) -> list[dict]:
    """Chunk ``chunk`` of the table, as ``generate_transcripts_distributed``
    makes it."""
    from data_caterer_spark.fixtures import generate_transcripts

    take = min(CONVS_PER_CHUNK, common.N_CONVS - chunk * CONVS_PER_CHUNK)
    return generate_transcripts(take, seed=seed + chunk)


def label_rows(rows: list[dict]) -> list[tuple[int, bool, str | None]]:
    """(row_id, keep, scrubbed_text) for rows holding whole conversations,
    labelled in the labeler's own order: conversation, then ``turn_idx``,
    with ``row_id`` breaking ties between conversations sharing an id."""
    from data_caterer_spark.labeler import ReferenceLabeler

    labeler = ReferenceLabeler()
    out = []
    prev = None
    for row in sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"], r["row_id"])):
        if prev is not None and prev["conv_id"] != row["conv_id"]:
            prev = None
        lt = labeler.label_turn(row, prev)
        out.append((row["row_id"], lt.keep, lt.scrubbed_text))
        prev = row
    return out


def _table(rows: list[dict]):
    import pyarrow as pa

    return pa.table(
        {
            "conv_id": pa.array([r["conv_id"] for r in rows], pa.string()),
            "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
            "role": pa.array([r["role"] for r in rows], pa.string()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "tool": pa.array([r["tool"] for r in rows], pa.string()),
            # naive fixture timestamps are UTC (the session time zone)
            "ts": pa.array([r["ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "row_id": pa.array([r["row_id"] for r in rows], pa.int64()),
        }
    )


def build(seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = common.input_dir(seed)
    staging = final + f".tmp{os.getpid()}"
    common.remove(staging)
    try:
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(common.cpus()) as pool:
            chunks = pool.starmap(
                chunk_rows, [(seed, c) for c in range(N_CHUNKS)]
            )
            row_id = 0
            for rows in chunks:
                for r in rows:
                    r["row_id"] = row_id
                    row_id += 1
            by_worker: list[list[dict]] = [[] for _ in range(common.cpus())]
            for rows in chunks:
                for r in rows:
                    by_worker[zlib.crc32(r["conv_id"].encode()) % len(by_worker)].append(r)
            labels = [x for part in pool.map(label_rows, by_worker) for x in part]
        for sub in ("turns", "stream", "golden"):
            os.makedirs(os.path.join(staging, sub))
        for c, rows in enumerate(chunks):
            pq.write_table(_table(rows), os.path.join(staging, "turns", f"part-{c:05d}.parquet"))
        all_rows = [r for rows in chunks for r in rows]
        n = len(all_rows)
        for f in range(common.STREAM_FILES):
            part = all_rows[f * n // 100 : (f + 1) * n // 100]
            pq.write_table(
                _table(part), os.path.join(staging, "stream", f"part-{f:05d}.parquet")
            )
        labels.sort()
        pq.write_table(
            pa.table(
                {
                    "row_id": pa.array([x[0] for x in labels], pa.int64()),
                    "keep": pa.array([x[1] for x in labels], pa.bool_()),
                    "scrubbed_text": pa.array([x[2] for x in labels], pa.string()),
                }
            ),
            os.path.join(staging, "golden", "part-00000.parquet"),
        )
        digest = hashlib.sha256()
        for r in all_rows:
            digest.update(repr([r[c] for c in COLUMNS]).encode())
        meta = {
            "seed": seed,
            "n_convs": common.N_CONVS,
            "turns": n,
            "golden_kept": sum(1 for x in labels if x[1]),
            "fingerprint": digest.hexdigest(),
        }
        with open(os.path.join(staging, "meta.json"), "w") as fh:
            json.dump(meta, fh)
    except BaseException:
        common.remove(staging)
        raise
    common.remove(final)
    os.rename(staging, final)


def load(seed: int) -> dict:
    """Meta of the cached input for ``seed``.  A miss is built in a child
    process, so the caller's memory high-water mark is the same on a hit
    and on a miss."""
    path = os.path.join(common.input_dir(seed), "meta.json")
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--seed", str(seed)],
            check=True,
            timeout=170,
            stdout=sys.stderr,
        )
    with open(path) as fh:
        meta = json.load(fh)
    meta["dir"] = common.input_dir(seed)
    return meta


if __name__ == "__main__":
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--seed", type=int, required=True)
    build(parser.parse_args().seed)
