"""DuckDB oracle SQL mirroring the Spark pipeline (correctness gate).

Each helper returns SQL in DuckDB dialect that reproduces, in pure SQL,
what the Spark side computes: the composite syslog parse
(parsing/syslog.py, semantics from /root/reference/decoders/
rfc3164_format.go:28-194 and rfc5424_format.go:110-230), enrichment,
routing and aggregation. The driver runs these side-by-side with the
Spark queries and hash-compares results.

The oracle reads the SAME materialized transcripts parquet the Spark
queries read (datagen.ensure_transcripts), via read_parquet(path).
"""

from __future__ import annotations

from skewer_spark.datagen import transcripts_path

# regex building blocks — RE2-safe (DuckDB) and identical in meaning to the
# compiled Python patterns in parsing/syslog.py
_SD_BLOCK = r"(?:\[(?:\\\]|[^\]])*\])+"
_R5424 = r"^1 (\S+) (\S+) (\S+) (\S+) (\S+) (-|" + _SD_BLOCK + r")( (.*))?$"
_ELEM = r"\[([^ \]]+)((?:\\\]|[^\]])*)\]"
_PARAM = r'([^ =\[\]]+)="((?:[^"\\]|\\.)*)"'
_TAG = r"^([^\[]*)(?:\[([^\]]*)\]?.*)?$"
_HOSTNAME = r"^[A-Za-z0-9.:_-]+$"
_TS_FMTS = "['%Y-%m-%dT%H:%M:%S.%fZ', '%Y-%m-%dT%H:%M:%SZ']"

# Occurrence-ordered SD 'sid|name' keys and full 'sid|name=value' lines
# (parallel lists) — kept separate so the props5424 builder below can
# apply last-occurrence-wins dedup per key, the DuckDB twin of the
# reference's SetProperty map overwrite (model/types.go:497-512) that
# both Spark parse kernels implement.
_SD_KEYS = (
    f"flatten(list_transform(regexp_extract_all(f_sd, '{_ELEM}', 0), "
    f"e -> list_transform(range(1, len(regexp_extract_all(e, '{_PARAM}', 1)) + 1), "
    "i -> regexp_extract(e, '^\\[([^ \\]]+)', 1) || '|' || "
    f"regexp_extract_all(e, '{_PARAM}', 1)[i])))"
)
_SD_LINES = (
    f"flatten(list_transform(regexp_extract_all(f_sd, '{_ELEM}', 0), "
    f"e -> list_transform(range(1, len(regexp_extract_all(e, '{_PARAM}', 1)) + 1), "
    "i -> regexp_extract(e, '^\\[([^ \\]]+)', 1) || '|' || "
    f"regexp_extract_all(e, '{_PARAM}', 1)[i] || '=' || "
    f"regexp_replace(regexp_extract_all(e, '{_PARAM}', 2)[i], "
    "'\\\\(.)', '\\1', 'g'))))"
)


def parse_cte(sf_dir: str, source_sql: str | None = None) -> str:
    """WITH-clause body producing relation ``parsed`` (one row per turn).

    Columns: conv_id, turn_idx, role, tool, ts, text, priority, facility,
    severity, version, time_reported, time_generated (epoch micros),
    hostname, appname, procid, msgid, structured, message, props_flat,
    parse_format, parse_error.

    source_sql overrides the input relation; it must yield columns
    (conv_id, turn_idx, role, tool, ts, text) — used e.g. for the raw
    text-file source.
    """
    source = source_sql or f"SELECT * FROM read_parquet('{transcripts_path(sf_dir)}')"
    return f"""
base AS (
  SELECT conv_id, turn_idx, role, tool, ts, text,
         trim(text) AS t, epoch_us(ts) AS ing
  FROM ({source})
),
pri0 AS (
  SELECT *,
    try_cast(regexp_extract(t, '^<(\\d+)>', 1) AS BIGINT) AS pri_raw,
    trim(regexp_extract(t, '^<\\d+>(.*)$', 1)) AS rest
  FROM base
),
cls AS (
  SELECT *,
    (pri_raw IS NOT NULL AND pri_raw <= 2147483647) AS has_pri,
    (pri_raw IS NOT NULL AND pri_raw <= 2147483647
       AND regexp_matches(rest, '^1 ')) AS is5424,
    (pri_raw IS NOT NULL AND pri_raw <= 2147483647
       AND NOT regexp_matches(rest, '^1 ')) AS is3164
  FROM pri0
),
-- ===== RFC5424 =====
p5424 AS (
  SELECT *,
    (is5424 AND regexp_matches(rest, '{_R5424}')) AS ok5424,
    nullif(regexp_extract(rest, '{_R5424}', 1), '-') AS f_ts,
    nullif(regexp_extract(rest, '{_R5424}', 2), '-') AS f_host,
    nullif(regexp_extract(rest, '{_R5424}', 3), '-') AS f_app,
    nullif(regexp_extract(rest, '{_R5424}', 4), '-') AS f_proc,
    nullif(regexp_extract(rest, '{_R5424}', 5), '-') AS f_msgid,
    nullif(regexp_extract(rest, '{_R5424}', 6), '-') AS f_sd,
    regexp_extract(rest, '{_R5424}', 8) AS f_msg
  FROM cls
),
p5424b AS (
  SELECT *,
    CASE WHEN ok5424 AND f_ts IS NOT NULL
              AND try_cast(substring(f_ts, 1, 4) AS INT) BETWEEN 1678 AND 2250
         THEN try_strptime(f_ts, {_TS_FMTS}) END AS ts5424,
    CASE WHEN ok5424 AND f_sd IS NOT NULL AND f_sd <> '' THEN
      array_to_string(list_sort(list_transform(
        list_filter(range(1, len({_SD_KEYS}) + 1),
                    i -> NOT list_contains(({_SD_KEYS})[i+1:], ({_SD_KEYS})[i])),
        i -> ({_SD_LINES})[i])), chr(10))
    ELSE '' END AS props5424
  FROM p5424
),
-- ===== RFC3164 ===== (never fails; branch cascade rfc3164_format.go:28-166)
p3164a AS (
  SELECT *,
    CASE WHEN is3164 AND regexp_matches(rest, '^[0-9]')
              AND try_cast(substring(rest, 1, 4) AS INT) BETWEEN 1678 AND 2250
         THEN try_strptime(split_part(rest, ' ', 1), {_TS_FMTS}) END AS rts,
    CASE WHEN is3164 AND NOT regexp_matches(rest, '^[0-9]')
              AND len(string_split(rest, ' ')) >= 3
              AND year(ts) BETWEEN 1678 AND 2250
         THEN try_strptime(
            cast(year(ts) AS VARCHAR) || ' ' ||
            array_to_string(string_split(rest, ' ')[1:3], ' '),
            '%Y %b %d %H:%M:%S') END AS uts
  FROM p5424b
),
p3164b AS (
  SELECT *,
    CASE
      WHEN NOT is3164 OR rest = '' THEN ''
      WHEN regexp_matches(rest, '^[0-9]') THEN
        CASE WHEN rts IS NULL THEN ''
             WHEN len(string_split(rest, ' ')) = 1 THEN ''
             ELSE array_to_string(string_split(rest, ' ')[2:], ' ') END
      ELSE
        CASE WHEN uts IS NULL THEN ''
             WHEN len(string_split(rest, ' ')) = 3 THEN ''
             ELSE array_to_string(string_split(rest, ' ')[4:], ' ') END
    END AS rem,
    (is3164 AND rest <> '' AND
      ((regexp_matches(rest, '^[0-9]') AND rts IS NULL)
        OR (NOT regexp_matches(rest, '^[0-9]') AND uts IS NULL)))
      AS ts_failed
  FROM p3164a
),
p3164c AS (
  SELECT *,
    split_part(rem, ' ', 1) AS k0,
    split_part(rem, ' ', 2) AS k1,
    len(string_split(rem, ' ')) AS ntok,
    CASE WHEN len(string_split(rem, ' ')) >= 3
         THEN array_to_string(string_split(rem, ' ')[3:], ' ') ELSE '' END AS k2
  FROM p3164b
),
p3164d AS (
  SELECT *,
    (length(k0) - length(replace(k0, ':', ''))) = 7
      OR (length(k0) - length(replace(k0, '.', ''))) = 3 AS ipish,
    regexp_matches(k0, '[\\[\\]:]') AS k0tag,
    regexp_matches(k1, '[\\[\\]:]') AS k1tag,
    regexp_matches(k0, '{_HOSTNAME}') AS k0host
  FROM p3164c
),
tagged AS (
  SELECT *,
    -- which token gets tag-parsed (rfc3164_format.go:116-165):
    CASE
      WHEN NOT is3164 OR rem = '' OR ntok = 1 THEN NULL
      WHEN ntok = 2 AND ipish AND k1tag THEN trim(k1, ':')
      WHEN ntok = 2 AND ipish THEN NULL
      WHEN ntok = 2 AND k0tag THEN trim(k0, ':')
      WHEN ntok = 2 AND k1tag THEN trim(k0, ':')   -- reference quirk :142-147
      WHEN ntok = 2 THEN NULL                      -- appname = k0, no tag parse
      WHEN ntok >= 3 AND (k0tag OR NOT k0host) THEN trim(k0, ':')
      WHEN ntok >= 3 THEN trim(k1, ':')
    END AS tagtok
  FROM p3164d
),
parsed AS (
  SELECT
    conv_id, turn_idx, role, tool, ts, text,
    CASE WHEN has_pri THEN cast(pri_raw AS INT) ELSE 0 END AS priority,
    CASE WHEN has_pri THEN cast(pri_raw // 8 AS INT) ELSE 0 END AS facility,
    CASE WHEN has_pri THEN cast(pri_raw % 8 AS INT) ELSE 0 END AS severity,
    CASE WHEN ok5424 THEN 1 ELSE 0 END AS version,
    CASE
      WHEN ok5424 AND ts5424 IS NOT NULL THEN epoch_us(ts5424)
      WHEN is3164 AND rts IS NOT NULL THEN epoch_us(rts)
      WHEN is3164 AND uts IS NOT NULL THEN epoch_us(uts)
      ELSE ing
    END AS time_reported,
    ing AS time_generated,
    CASE
      WHEN ok5424 THEN coalesce(f_host, '')
      WHEN is3164 AND rem <> '' AND ntok = 2 AND ipish THEN k0
      WHEN is3164 AND rem <> '' AND ntok = 2 AND NOT ipish
           AND NOT k0tag AND k1tag THEN k0
      WHEN is3164 AND rem <> '' AND ntok >= 3
           AND NOT (k0tag OR NOT k0host) THEN k0
      ELSE ''
    END AS hostname,
    CASE
      WHEN ok5424 THEN coalesce(f_app, '')
      WHEN is3164 AND rem <> '' AND ntok = 2 AND NOT ipish
           AND NOT k0tag AND NOT k1tag THEN k0
      WHEN tagtok IS NOT NULL THEN regexp_extract(tagtok, '{_TAG}', 1)
      ELSE ''
    END AS appname,
    CASE
      WHEN ok5424 THEN coalesce(f_proc, '')
      WHEN tagtok IS NOT NULL THEN regexp_extract(tagtok, '{_TAG}', 2)
      ELSE ''
    END AS procid,
    CASE WHEN ok5424 THEN coalesce(f_msgid, '') ELSE '' END AS msgid,
    CASE WHEN ok5424 THEN coalesce(f_sd, '') ELSE '' END AS structured,
    CASE
      WHEN is5424 THEN CASE WHEN ok5424 THEN f_msg ELSE '' END
      WHEN is3164 THEN
        CASE
          WHEN rest = '' THEN ''
          WHEN ts_failed THEN rest
          WHEN rem = '' THEN ''
          WHEN ntok = 1 THEN rem
          WHEN ntok = 2 AND ipish AND k1tag THEN ''
          WHEN ntok = 2 AND ipish THEN k1
          WHEN ntok = 2 AND k0tag THEN k1
          WHEN ntok = 2 AND k1tag THEN ''     -- reference quirk :142-147
          WHEN ntok = 2 THEN k1
          WHEN ntok >= 3 AND (k0tag OR NOT k0host) THEN k1 || ' ' || k2
          ELSE k2
        END
      ELSE t
    END AS message,
    props5424 AS props_flat,
    CASE WHEN is5424 THEN 'rfc5424'
         WHEN is3164 THEN 'rfc3164'
         ELSE 'fallback' END AS parse_format,
    coalesce(is5424 AND (NOT ok5424 OR (f_ts IS NOT NULL AND ts5424 IS NULL)),
             FALSE) AS parse_error
  FROM tagged
)"""


def parsed_relation(sf_dir: str, source_sql: str | None = None) -> str:
    """Full 'WITH ... parsed' prefix ready to append a SELECT."""
    return "WITH " + parse_cte(sf_dir, source_sql)
