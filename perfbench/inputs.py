"""Seeded inputs and DuckDB oracle answers for the benchmark.

Everything here is benchmark work, done before any timing starts and cached
per (kind, size, seed) under the benchmark's work directory, so a second
run with the same seed reuses the files and the answers.

Transcripts: seeded ``events`` rows go through the public
``datagen.generate_transcripts_pdf``. The seed picks the ``event_id`` and
``user_id`` offsets (and the draws for users, event types, values and
timestamps). Event ids are contiguous and the row count is a multiple of
130, so the 13-branch text mix (``event_id % 13``) and the 30% ``conv-hot``
share (``event_id % 10 < 3``) are identical for every seed; ``_check_mix``
enforces it.

Documents: the base corpus committed under ``data/`` (the first copy of
``sf0.001_docsx6``) replicated into copies whose ``doc_id`` is shifted by
``DOC_REPEAT_SPAN`` per copy and whose text gets one fixed-width
seed-and-copy token, so dedup cannot collapse the copies and every seed
has the same funnel shape.

Oracle answers come from DuckDB over the same files: ``oracle.parse_cte``,
``enrich.enrich_sql`` and ``rules.routing_union_sql`` for the spine, the
rate-limit window SQL for the hook rule, and ``curate_pack_oracle_sql``
for the curation funnel.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from skewer_spark.datagen import DOC_REPEAT_SPAN, generate_transcripts_pdf
from skewer_spark.enrich import enrich_sql
from skewer_spark.ops.curation import curate_pack_oracle_sql
from skewer_spark.ops.portable import to_duck
from skewer_spark.oracle import parse_cte
from skewer_spark.routing import rules as R
from skewer_spark.routing.filter_hooks import RATE_LIMIT_K

GEN_VERSION = 5
DOC_BASE = os.path.join("data", "sf0.001_docsx6", "documents.parquet")
USERS = 1000  # distinct user_ids, so ~1000 conversations besides conv-hot
AGG_KEYS = ("facility", "severity", "tool")
# bench.py's hook rules: the registered rate-limit hook plus a catch-all
HOOK_RULES = (
    R.RouteRule("sink_limited", "'limited'", "TRUE", filter_hook="rate_limit_mask"),
    R.RouteRule("sink_all", "'everything'", "TRUE"),
)


@dataclass(frozen=True)
class Size:
    spine_files: int  # transcripts table = spine_files x spine_rows files
    spine_rows: int
    stream_files: int  # stream backlog: one micro-batch per file
    stream_rows: int
    warm_files: int  # stream warm-up: one micro-batch, one task per file
    warm_rows: int
    doc_copies: int  # documents corpus = doc_copies x the 500 base docs


SIZES = {
    "full": Size(4, 13_000, 5, 390, 4, 650, 60),
    "tiny": Size(4, 650, 3, 260, 4, 130, 2),
}


# ------------------------------------------------------------ transcripts
def _events(seed: int, n: int) -> pd.DataFrame:
    if n % 130:
        raise ValueError(f"event count {n} must be a multiple of 130")
    rng = np.random.default_rng(seed)
    eid0 = 130 * int(rng.integers(0, 10**6))  # keeps eid % 13 and % 10 aligned
    uid0 = int(rng.integers(0, 10**6))
    eid = eid0 + np.arange(n, dtype=np.int64)
    start = pd.Timestamp("2024-01-01") + pd.to_timedelta(int(rng.integers(0, 300)), unit="D")
    step_us = 3_000_000 * np.arange(n, dtype=np.int64) + rng.integers(0, 1_000_000, n)
    return pd.DataFrame(
        {
            "event_id": eid,
            "ts": (start + pd.to_timedelta(step_us, unit="us")).astype("datetime64[us]"),
            "user_id": uid0 + rng.integers(0, USERS, n),
            "event_type": np.array(["signup", "error", "click", "view", "purchase"])[
                rng.integers(0, 5, n)
            ],
            "value": np.round(rng.uniform(0, 100, n), 2),
        }
    )


def _check_mix(events: pd.DataFrame, turns: pd.DataFrame) -> None:
    """The text-branch mix and the hot-conversation share must not depend
    on the seed: every branch holds exactly n/13 rows, conv-hot exactly
    30%, and the tool turns (branch 11) exactly n/13."""
    n = len(events)
    branches = np.bincount(events["event_id"].to_numpy() % 13, minlength=13)
    hot = int((turns["conv_id"] == "conv-hot").sum())
    tools = int((turns["role"] == "tool").sum())
    if len(turns) != n or set(branches) != {n // 13} or hot * 10 != n * 3 or tools * 13 != n:
        raise RuntimeError(
            f"generator mix drifted: branches={branches.tolist()} hot={hot} "
            f"tools={tools} rows={len(turns)}/{n}"
        )


def _write_files(table: pa.Table, out_dir: str, rows: int, n_files: int, offset: int = 0) -> None:
    os.makedirs(out_dir)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(offset + i * rows, rows), path, compression="snappy")


def _transcripts_table(seed: int, n: int) -> pa.Table:
    events = _events(seed, n)
    turns = generate_transcripts_pdf(events)
    _check_mix(events, turns)
    table = pa.Table.from_pandas(turns, preserve_index=False)
    i = table.schema.get_field_index("ts")
    return table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("us")))


# ----------------------------------------------------------------- oracle
def _duck():
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _files_sql(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def _spine_answers(paths: list[str], hook: bool) -> dict:
    """Expected per-sink rows, status counts, rollups and per-sink row
    digests of one Pipeline.run over ``paths``: DEFAULT_RULES, or the
    rate-limit hook rules when ``hook``."""
    con = _duck()
    src = f"SELECT * FROM read_parquet({_files_sql(paths)})"
    con.execute(
        f"""CREATE TEMP TABLE st AS WITH {parse_cte('', source_sql=src)}
        SELECT *, CASE WHEN {R.STATUS_REJECTED_EXPR} THEN 'rejected'
                       WHEN {R.STATUS_DROPPED_EXPR} THEN 'dropped'
                       ELSE 'passing' END AS route_status
        FROM parsed"""
    )
    row = "conv_id, turn_idx, text, message, facility, severity, tool"
    cols = f"sink, {row}"
    dead = f"SELECT 'dead_letter' AS sink, {row} FROM st WHERE route_status = 'rejected'"
    if hook:
        plain = tuple(r for r in HOOK_RULES if not r.filter_hook)
        limited = next(r.sink for r in HOOK_RULES if r.filter_hook)
        routed = f"""
        WITH pas AS (SELECT * FROM st WHERE route_status = 'passing'),
        en AS ({enrich_sql('pas')}),
        ranked AS (SELECT *, row_number() OVER (
                     PARTITION BY appname ORDER BY conv_id, turn_idx) AS rn FROM st)
        SELECT {cols} FROM ({R.routing_union_sql('en', plain)})
        UNION ALL
        SELECT '{limited}', conv_id, turn_idx, text,
               regexp_replace(message, '[0-9]+', '#', 'g'), facility, severity, tool
        FROM ranked WHERE route_status = 'passing' AND rn <= {RATE_LIMIT_K}
        UNION ALL {dead}"""
    else:
        routed = f"""
        WITH pas AS (SELECT * FROM st WHERE route_status = 'passing'),
        en AS ({enrich_sql('pas')})
        SELECT {cols} FROM ({R.routing_union_sql('en')})
        UNION ALL {dead}"""
    con.execute(f"CREATE TEMP TABLE routed AS {routed}")
    status = dict(con.execute("SELECT route_status, count(*) FROM st GROUP BY 1").fetchall())
    digest = {
        s: [int(c), int(h)]
        for s, c, h in con.execute(
            f"SELECT sink, {DIGEST_SQL} FROM routed GROUP BY sink"
        ).fetchall()
    }
    rollups = {
        k: sorted(
            [s, v, int(c)]
            for s, v, c in con.execute(
                f"SELECT sink, {k}, count(*) FROM routed WHERE sink <> 'dead_letter' GROUP BY 1, 2"
            ).fetchall()
        )
        for k in AGG_KEYS
    }
    con.close()
    return {
        "rows_in": int(sum(status.values())),
        "dropped": int(status.get("dropped", 0)),
        "rejected": int(status.get("rejected", 0)),
        "sinks": {s: c for s, (c, _) in digest.items()},
        "digest": digest,
        "rollups": rollups,
    }


# order-independent digest of the per-turn routed rows: the BASELINE
# per-turn text equality, as (count, sum of row hashes) per sink
DIGEST_SQL = (
    "count(*), sum(hash(conv_id::VARCHAR, turn_idx::BIGINT, text::VARCHAR, "
    "message::VARCHAR)::HUGEINT)"
)


def sink_digest(paths: list[str]) -> list[int]:
    """(count, hash sum) of committed sink files, read back with DuckDB."""
    if not paths:
        return [0, 0]
    con = _duck()
    c, h = con.execute(f"SELECT {DIGEST_SQL} FROM read_parquet({_files_sql(paths)})").fetchone()
    con.close()
    return [int(c), int(h or 0)]


# -------------------------------------------------------------- documents
PACK_DIGEST_SQL = (
    "count(*), sum(n_tokens)::BIGINT, sum(n_redactions)::BIGINT, max(pack_last)::BIGINT, "
    "sum(hash(doc_id::BIGINT, n_tokens::BIGINT, n_redactions::BIGINT, scrubbed_md5::VARCHAR, "
    "start_tok::BIGINT, pack_first::BIGINT, pack_last::BIGINT, offset_in_pack::BIGINT, "
    "packs_spanned::BIGINT)::HUGEINT)"
)


def pack_digest(paths: list[str]) -> list[int]:
    con = _duck()
    row = con.execute(f"SELECT {PACK_DIGEST_SQL} FROM read_parquet({_files_sql(paths)})").fetchone()
    con.close()
    return [int(v or 0) for v in row]


def _documents(root: str, seed: int, copies: int, out_dir: str) -> None:
    docs = pq.read_table(os.path.join(root, DOC_BASE)).to_pandas()
    base = docs[docs["doc_id"] < DOC_REPEAT_SPAN].copy()
    base["text"] = base["text"].str.removesuffix(" rep0")
    os.makedirs(out_dir)
    for c in range(copies):
        d = base.copy()
        d["doc_id"] = d["doc_id"] + c * DOC_REPEAT_SPAN
        d["text"] = d["text"] + f" s{seed % 10**7:07d}c{c:04d}"
        d["n_chars"] = d["text"].str.len()
        path = os.path.join(out_dir, f"part-{c:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(d, preserve_index=False), path, compression="snappy")


def _pack_answers(doc_paths: list[str]) -> dict:
    con = _duck()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({_files_sql(doc_paths)})")
    con.execute(f"CREATE TEMP TABLE pack AS {to_duck(curate_pack_oracle_sql())}")
    digest = [int(v or 0) for v in con.execute(f"SELECT {PACK_DIGEST_SQL} FROM pack").fetchone()]
    docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    con.close()
    return {"docs": int(docs), "digest": digest}


# ------------------------------------------------------------------ cache
def _cached(cache_dir: str, key: str, build) -> str:
    """Directory for ``key``, built atomically once by ``build(tmp_dir)``."""
    final = os.path.join(cache_dir, key)
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.replace(tmp, final)
    return final


def _answers(d: str, name: str, compute) -> dict:
    """Oracle answers ``name`` cached as JSON next to their input files."""
    path = os.path.join(d, f"answers-{name}.json")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(compute(), f)
        os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)


def _parquet(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def transcripts(cache_dir: str, seed: int, size_name: str, rules: str) -> tuple[str, dict]:
    """Seeded transcripts table (``transcripts/``) and the answers of one
    Pipeline.run over it under ``rules``: "batch" (DEFAULT_RULES) or "hook"
    (the rate-limit hook rules)."""
    size = SIZES[size_name]

    def build(d: str) -> None:
        table = _transcripts_table(seed, size.spine_files * size.spine_rows)
        _write_files(table, os.path.join(d, "transcripts"), size.spine_rows, size.spine_files)

    d = _cached(cache_dir, f"transcripts-v{GEN_VERSION}-{size_name}-s{seed}", build)
    spine = _parquet(os.path.join(d, "transcripts"))
    return d, _answers(d, rules, lambda: _spine_answers(spine, hook=rules == "hook"))


def backlog(cache_dir: str, seed: int, size_name: str) -> tuple[str, dict]:
    """Seeded stream backlog (``backlog/``, one micro-batch per file) plus
    warm-up files (``warm/``), and the answers summed over the backlog."""
    size = SIZES[size_name]

    def build(d: str) -> None:
        n = size.stream_files * size.stream_rows
        table = _transcripts_table(seed, n + size.warm_files * size.warm_rows)
        _write_files(table, os.path.join(d, "backlog"), size.stream_rows, size.stream_files)
        _write_files(table, os.path.join(d, "warm"), size.warm_rows, size.warm_files, offset=n)

    d = _cached(cache_dir, f"backlog-v{GEN_VERSION}-{size_name}-s{seed}", build)
    files = _parquet(os.path.join(d, "backlog"))
    return d, _answers(d, "stream", lambda: _spine_answers(files, hook=False))


def documents(root: str, cache_dir: str, seed: int, size_name: str) -> tuple[str, dict]:
    """Replicated, seed-tagged documents corpus (``corpus/``) and its
    curate_pack answers."""
    size = SIZES[size_name]

    def build(d: str) -> None:
        _documents(root, seed, size.doc_copies, os.path.join(d, "corpus", "documents.parquet"))

    d = _cached(cache_dir, f"documents-v{GEN_VERSION}-{size_name}-s{seed}", build)
    corpus = _parquet(os.path.join(d, "corpus", "documents.parquet"))
    return d, _answers(d, "pack", lambda: _pack_answers(corpus))
