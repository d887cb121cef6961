"""Reference results, computed by DuckDB over the same files the engine
reads, plus the late-drop model of the stream replay.

Nothing here imports the engine except ``minhash_coeffs``, the fixed
MinHash coefficients that are part of the operator's definition.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq

from perfbench import gen

_TOKENS = "string_split_regex(trim(lower(text)), '\\s+')"
_MD5_32 = "CAST(('0x' || substring(md5({x}), 1, 8)) AS BIGINT)"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 1")
    return con


def rows(con, sql: str) -> list[tuple]:
    return sorted(norm(r) for r in con.execute(sql).fetchall())


def norm(row) -> tuple:
    """A result row with floats rounded as the engine's outputs are."""
    return tuple(round(v, 6) if isinstance(v, float) else v for v in row)


# ---------------------------------------------------------------- stream

def late_drop_model(
    batches: list[list[tuple[str, int]]], window_ms: int, delay_ms: int
) -> dict:
    """Rows the stream replay drops as late, batch by batch.

    ``batches`` holds each micro-batch's (key, event_ms) rows in replay
    order. The model mirrors the semantics pinned by
    tests/test_late_data.py: the late-row filter of batch N uses the
    watermark of batch N-1, which is the largest event time seen up to
    batch N-2 minus the delay, so nothing is dropped before batch 2. A
    row is late when its tumbling window ends at or before that
    watermark. The state store counts what it drops after the
    aggregation has merged rows, so the count is of distinct
    (key, window) groups per batch, not of rows.

    Returns the per-batch late watermark (None before one exists), the
    per-batch dropped-group counts and their total, and the final
    watermark, at or after which no emitted window ends.
    """
    late_wm: list[int | None] = []
    dropped: list[int] = []
    seen_max: list[int] = []
    for n, batch in enumerate(batches):
        wm = max(seen_max[: n - 1]) - delay_ms if n >= 2 else None
        late_wm.append(wm)
        groups = {
            (key, ms // window_ms)
            for key, ms in batch
            if wm is not None and (ms // window_ms + 1) * window_ms <= wm
        }
        dropped.append(len(groups))
        seen_max.append(max(ms for _, ms in batch))
    return {
        "late_wm": late_wm,
        "dropped": dropped,
        "total": sum(dropped),
        "final_wm": max(seen_max) - delay_ms,
    }


def stream_batches(events_dir: str) -> list[list[tuple[str, int]]]:
    """(key, event_ms) rows of each replayed file, in replay order."""
    out = []
    for path in sorted(glob.glob(os.path.join(events_dir, "*.parquet"))):
        t = pq.read_table(path, columns=["ts", "event_type"])
        out.append(list(zip(
            t["event_type"].to_pylist(),
            (ts // 1_000_000 for ts in t["ts"].to_pylist()),
        )))
    return out


def min_count_sql(events_glob: str, window_ms: int, n_ports: int, where: str = "TRUE") -> str:
    """Per (key, window) min across ports of per-port counts, complete
    windows only (operators.asyn_join.min_count_per_window)."""
    return f"""
        WITH ev AS (
          SELECT event_type AS key, (ts // 1000000) // {window_ms} AS ltw,
                 CAST(user_id % {n_ports} AS INT) AS source,
                 event_id // {gen.EVENT_ID_STRIDE} AS f
          FROM read_parquet('{events_glob}')),
        per AS (
          SELECT key, ltw, source, count(*) AS cnt
          FROM ev WHERE {where} GROUP BY ALL)
        SELECT key, ltw, CAST(min(cnt) AS BIGINT) AS min_cnt
        FROM per GROUP BY key, ltw HAVING count(*) = {n_ports}
    """


def async_stream_refs(con, data: str, model: dict) -> dict:
    """``min_count_per_window``: the batch operator over the admitted
    rows. ``stream``: the same, restricted to windows the final
    watermark closed, which is what append mode emits."""
    lw = [(f, wm) for f, wm in enumerate(model["late_wm"]) if wm is not None]
    con.execute("CREATE OR REPLACE TABLE late_wm(f BIGINT, wm BIGINT)")
    if lw:
        con.executemany("INSERT INTO late_wm VALUES (?, ?)", lw)
    w = gen.STREAM_WINDOW_MS
    admitted = (
        f"NOT EXISTS (SELECT 1 FROM late_wm l WHERE l.f = ev.f"
        f" AND (ltw + 1) * {w} <= l.wm)"
    )
    sql = min_count_sql(f"{data}/events.parquet/*.parquet", w, gen.STREAM_PORTS, admitted)
    batch = rows(con, sql)
    stream = [r for r in batch if (r[1] + 1) * w <= model["final_wm"]]
    return {"min_count_per_window": batch, "stream": stream}


# ---------------------------------------------------------------- skew

def skew_batch_refs(con, data: str) -> dict:
    ev = f"read_parquet('{data}/events.parquet/*.parquet')"
    agg = rows(con, f"""
        SELECT event_type AS key, count(*) AS cnt,
               CAST(sum(CAST(floor(value) AS INT)) AS BIGINT) AS total
        FROM {ev} GROUP BY 1
    """)
    star = rows(con, f"""
        WITH per_rel AS (
          SELECT event_type AS key, CAST(user_id % 3 AS INT) AS rel, count(*) AS cnt
          FROM {ev} GROUP BY 1, 2),
        wide AS (
          SELECT key,
                 max(CASE WHEN rel = 0 THEN cnt END) AS c0,
                 max(CASE WHEN rel = 1 THEN cnt END) AS c1,
                 max(CASE WHEN rel = 2 THEN cnt END) AS c2
          FROM per_rel GROUP BY key)
        SELECT key, CAST(c0 * c1 * c2 AS BIGINT) AS card
        FROM wide WHERE c0 IS NOT NULL AND c1 IS NOT NULL AND c2 IS NOT NULL
    """)
    return {
        "min_count_per_window": rows(con, min_count_sql(
            f"{data}/events.parquet/*.parquet", gen.SKEW_WINDOW_MS, 3)),
        "split_skew_agg": agg,
        "adaptive_agg": agg,
        "star_cardinality": star,
        "star_cardinality_hypercube": star,
    }


# ---------------------------------------------------------------- dedup

def _shingles(docs: str, k: int) -> str:
    grams = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return f"""
        SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(t) >= {k} THEN
            list_transform(generate_series(1, len(t) - {k - 1}), i -> {grams})
          ELSE [array_to_string(t, ' ')] END)) AS shingle
        FROM (SELECT doc_id, {_TOKENS} AS t FROM {docs} WHERE text IS NOT NULL)
    """


def minhash_sql(docs: str, threshold: float, n_hashes: int = 32, bands: int = 8,
                verified: bool = True) -> str:
    """functions.dedup.minhash_lsh_pairs(replayable=True): md5_32
    shingle hashes, the seed-42 affine signature, exact band-slot keys,
    then exact Jaccard over the hashed sets for candidates only."""
    from myasynstreamjoin_spark.functions.dedup import minhash_coeffs

    coef = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coeffs(n_hashes)))
    per_band = n_hashes // bands
    head = f"""
        WITH sh AS (SELECT DISTINCT doc_id, {_MD5_32.format(x='shingle')} AS h
                    FROM ({_shingles(docs, 3)})),
        coef(i, a, b) AS (VALUES {coef}),
        sig AS (SELECT doc_id, i, min((a * h + b) % 4294967311) AS mv
                FROM sh CROSS JOIN coef GROUP BY 1, 2),
        bands AS (SELECT doc_id, i // {per_band} AS band,
                         string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS bkey
                  FROM sig GROUP BY 1, 2),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    """
    if not verified:
        return head + "SELECT doc_a, doc_b FROM cand"
    return head + f""",
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        common AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_common
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                      JOIN sh b ON b.doc_id = c.doc_b AND a.h = b.h
          GROUP BY 1, 2)
        SELECT c.doc_a, c.doc_b,
               round(n_common / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
        FROM common c
        JOIN sizes na ON na.doc_id = c.doc_a
        JOIN sizes nb ON nb.doc_id = c.doc_b
        WHERE n_common / (na.n_sh + nb.n_sh - n_common) >= {threshold}
    """


def ngram_pairs_sql(docs: str, threshold: float, max_df: int = 1000) -> str:
    """functions.dedup.ngram_jaccard_pairs over string shingles (the
    engine hashes them to 64 bits, which changes no Jaccard value)."""
    return f"""
        WITH sh AS ({_shingles(docs, 3)}),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {max_df}),
        ix AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM ix a JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b FROM common
        JOIN sizes na ON na.doc_id = doc_a
        JOIN sizes nb ON nb.doc_id = doc_b
        WHERE n_common / (na.n_sh + nb.n_sh - n_common) >= {threshold}
    """


def components(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(node, smallest node id in its component) for every node of the
    pair graph, by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in parent)


def remove_spans_sql(docs: str, k: int) -> str:
    """functions.dedup.remove_duplicate_spans: every k-token span seen
    more than once keeps only its first (doc_id, pos) occurrence."""
    gram = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return f"""
        WITH toked AS (SELECT doc_id, {_TOKENS} AS t FROM {docs} WHERE text IS NOT NULL),
        grams AS (
          SELECT doc_id, i - 1 AS pos, {gram} AS gram
          FROM toked, unnest(generate_series(1, len(t) - {k - 1})) AS u(i)
          WHERE len(t) >= {k}),
        ranked AS (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
          FROM grams),
        dels AS (
          SELECT DISTINCT doc_id, pos + j AS pos
          FROM ranked, unnest(generate_series(0, {k - 1})) AS u(j) WHERE rn > 1),
        pos_tok AS (
          SELECT doc_id, t[i] AS tok, i - 1 AS pos
          FROM toked, unnest(generate_series(1, len(t))) AS u(i)),
        kept AS (
          SELECT p.doc_id, p.pos, p.tok FROM pos_tok p
          LEFT JOIN dels d ON p.doc_id = d.doc_id AND p.pos = d.pos
          WHERE d.doc_id IS NULL),
        agg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
               coalesce(a.text_clean, '') AS text_clean
        FROM toked t LEFT JOIN agg a USING (doc_id)
    """


def dedup_corpus_refs(con, data: str, minhash_threshold: float,
                      ngram_threshold: float, span_k: int) -> dict:
    docs = f"read_parquet('{data}/documents.parquet/*.parquet')"
    pairs = con.execute(ngram_pairs_sql(docs, ngram_threshold)).fetchall()
    return {
        "minhash_lsh_pairs": rows(con, minhash_sql(docs, minhash_threshold)),
        "lsh_candidates": con.execute(
            f"SELECT count(*) FROM ({minhash_sql(docs, 0, verified=False)})"
        ).fetchone()[0],
        "connected_components": components(pairs),
        "remove_duplicate_spans": rows(con, remove_spans_sql(docs, span_k)),
    }
