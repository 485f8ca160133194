"""Per-source parser registry + in-batch format dispatch.

The reference selects a decoder per source config from a format-name
table (/root/reference/decoders/decode.go:19-30) and lets users
register custom parsers by name (decode.go:48-61, JS functions run in
a pooled VM — javascript/vm.go:118-148). The Spark-side equivalent:

- a registry of **vectorized batch kernels** (pd.Series -> DataFrame in
  PARSED_SCHEMA shape), keyed by format name;
- ``parse_with_formats``: ONE pandas UDF whose batch body groups rows
  by a format column and applies each group's kernel — per-format
  dispatch without per-row Python and without splitting the scan into
  per-format jobs (order is restored positionally).

Custom parsers register like the reference's JS hooks, but must be
vectorized (the 'kv' demo below uses a single regex extract over the
batch — the pattern a user parser should follow).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from skewer_spark.parsing.arrowparse import parse_batch_arrow
from skewer_spark.parsing.syslog import apply_parse_udf

ParseKernel = Callable[[pd.Series, pd.Series], pd.DataFrame]

_REGISTRY: dict[str, ParseKernel] = {}


def register_parser(name: str, kernel: ParseKernel) -> None:
    """Register a vectorized parse kernel under a format name
    (the analog of decode.go:48-61 custom-parser registration)."""
    _REGISTRY[name] = kernel


def has_parser(name: str) -> bool:
    return name in _REGISTRY


def get_parser(name: str) -> ParseKernel:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(
            f"unknown parser format {name!r}; registered: {sorted(_REGISTRY)}"
        ) from None


# ---------------------------------------------------------------- builtins
register_parser("auto", lambda t, i: parse_batch_arrow(t, i, mode="auto"))
register_parser("rfc3164", lambda t, i: parse_batch_arrow(t, i, mode="rfc3164"))
register_parser("rfc5424", lambda t, i: parse_batch_arrow(t, i, mode="rfc5424"))


def _jstr(v) -> str | None:
    """Python mirror of Spark from_json's JSON-value -> string coercion
    (probed empirically; the kernels must match their Column twins on
    NON-string JSON values too): null -> NULL, booleans -> 'true'/
    'false' (not Python's 'True'), numbers -> the parsed double/int
    repr ('1.50' -> '1.5', '1e3' -> '1000.0'), objects/arrays -> the
    minified JSON text ('{"a":1}', never a Python dict repr)."""
    if v is None:
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, int):
        return str(v)
    import json

    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


_KV_RE = r"^pri=(\d+);host=([^;]*);app=([^;]*);msg=(.*)$"


def parse_kv_batch(text: pd.Series, ingest_us: pd.Series) -> pd.DataFrame:
    """Demo custom parser ('kv' format): 'pri=N;host=H;app=A;msg=M'.
    Single vectorized extract; non-matching lines degrade to the whole
    line in message (the 3164-style no-fail convention)."""
    t = text.fillna("").str.strip()
    ing = pd.to_numeric(ingest_us, errors="coerce").fillna(0).astype("int64")
    m = t.str.extract(_KV_RE)
    pri = pd.to_numeric(m[0], errors="coerce")
    ok = pri.notna() & (pri <= 2**31 - 1)
    pri_i = pri.where(ok, 0).astype("int64")
    n = len(t)
    return pd.DataFrame(
        {
            "priority": pri_i.astype("int32"),
            "facility": (pri_i // 8).astype("int32"),
            "severity": (pri_i % 8).astype("int32"),
            "version": np.zeros(n, dtype="int32"),
            "time_reported": ing,
            "time_generated": ing,
            "hostname": m[1].where(ok, "").fillna(""),
            "appname": m[2].where(ok, "").fillna(""),
            "procid": [""] * n,
            "msgid": [""] * n,
            "structured": [""] * n,
            "message": m[3].where(ok, t).fillna(""),
            "props_flat": [""] * n,
            "parse_format": np.where(ok, "kv", "fallback"),
            "parse_error": np.zeros(n, dtype="bool"),
        }
    )


register_parser("kv", parse_kv_batch)


def parse_json_batch(text: pd.Series, ingest_us: pd.Series) -> pd.DataFrame:
    """Vectorized pJSON kernel: the dispatchable twin of the
    Column-based ``encoders.decode_json`` (RegularSyslog.Internal(),
    decoders/json_format.go:13-20), so a config with ``format="json"``
    (config.py) routes through the same per-source dispatch as every
    other format. Semantics pinned EQUAL to the Column path by
    ``tests/test_parse_units.py::test_json_kernel_matches_column_decoder``:
    facility/severity names -> codes with the reference defaults
    (user=1 / info=6), Version forced 1, priority recomputed,
    structured cleared, two-level properties -> sorted 'sid|k=v'
    lines with sid/key/value \\n\\r sanitized to spaces (props_flat is
    newline-delimited — same `translate` boundary as the Column path).
    Timestamps accept EXACTLY the shared RFC3339 grammar
    (encoders.JSON_TS_RE); absent/non-matching -> NULL, matching the
    Column decoder (pd.Timestamp would otherwise accept far more
    formats than Spark's cast). Invalid JSON degrades loudly
    (parse_error=True, raw line in message, ingest-time fallback) like
    the rest of the dispatch surface — that branch is kernel-only (the
    Column path has no parse_error concept).

    Cost note: JSON object decode is inherently per-object work (the
    reference pays the same per-message iterator cost,
    decoders/json_format.go); the loop here runs INSIDE one Arrow
    batch — there are no per-row UDF round trips, which is what the
    no-per-row-Python rule is about. The hot-path formats
    (rfc3164/rfc5424/auto) remain fully vectorized numpy/RE2 kernels."""
    import json
    import re
    from datetime import datetime, timedelta, timezone

    from skewer_spark.dims import FACILITY_CODE as fmap
    from skewer_spark.dims import SEVERITY_CODE as smap
    from skewer_spark.encoders import JSON_TS_RE

    ts_re = re.compile(JSON_TS_RE)
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    us = timedelta(microseconds=1)
    t = text.fillna("").reset_index(drop=True)
    ing = pd.to_numeric(ingest_us, errors="coerce").fillna(0).astype("int64")
    ing = ing.reset_index(drop=True)
    n = len(t)
    cols: dict[str, list] = {k: [] for k in (
        "priority", "facility", "severity", "time_reported",
        "time_generated", "hostname", "appname", "procid", "msgid",
        "message", "props_flat", "parse_error",
    )}

    def ts_us(v: object) -> int | None:
        """Shared-grammar RFC3339 only; None (NULL) otherwise — the
        Column twin's `cast` yields NULL on the same inputs."""
        if not v or not ts_re.fullmatch(str(v)):
            return None
        try:
            dt = datetime.fromisoformat(str(v))
        except ValueError:
            # regex-valid but calendar-invalid ('2024-13-01', Feb 30):
            # the Column twin's cast yields NULL; an uncaught
            # ValueError here would abort the whole Spark task on one
            # hostile row
            return None
        return (dt - epoch) // us

    def clean(v: object) -> str:
        # props_flat is newline-delimited: line terminators inside
        # sid/key/value would forge extra lines (Column path: translate)
        return str(v).replace("\n", " ").replace("\r", " ")

    def clean_name(v: object) -> str:
        # sids/param names additionally sanitize '=' -> ' ': the
        # canonical line form 'sid|name=value' cannot represent a name
        # containing '=' (extraction reads up to the FIRST '='), and a
        # space makes the rfc5424_encodable gate reject the name just
        # like the reference's validName rejects '='
        # (encoders/rfc5424.go:112-122) — without it the gate would
        # extract a truncated-but-valid name and wrongly pass a message
        # the reference PermErrors. Same boundary as the Column path.
        return clean(v).replace("=", " ")

    for i in range(n):
        raw = t.iloc[i]
        fb = int(ing.iloc[i])
        try:
            obj = json.loads(raw)
            if not isinstance(obj, dict):
                raise ValueError("not an object")
        except ValueError:
            obj = None
        if obj is None:
            cols["priority"].append(0)
            cols["facility"].append(0)
            cols["severity"].append(0)
            cols["time_reported"].append(fb)
            cols["time_generated"].append(fb)
            for k in ("hostname", "appname", "procid", "msgid"):
                cols[k].append("")
            cols["message"].append(raw.strip())
            cols["props_flat"].append("")
            cols["parse_error"].append(True)
            continue
        fac = fmap.get(obj.get("facility"), 1)
        sev = smap.get(obj.get("severity"), 6)
        cols["priority"].append(fac * 8 + sev)
        cols["facility"].append(fac)
        cols["severity"].append(sev)
        cols["time_reported"].append(ts_us(obj.get("timereported")))
        cols["time_generated"].append(ts_us(obj.get("timegenerated")))
        for k in ("hostname", "appname", "procid", "msgid", "message"):
            # _jstr, not str(... or ''): falsy-but-present JSON values
            # must coerce like the Column twin ('0'/'false', and JSON
            # text for nested objects — never '' or a Python repr)
            cols[k].append(_jstr(obj.get(k)) or "")
        props = obj.get("properties")
        # from_json parity (probed): a domain value that is non-null
        # but NOT an object nulls the ENTIRE properties map (PERMISSIVE
        # mode) -> props_flat ''; a null domain value only drops that
        # domain; a null param value drops that line (array_join skips
        # null elements)
        if not isinstance(props, dict) or any(
            kv is not None and not isinstance(kv, dict)
            for kv in props.values()
        ):
            lines = []
        else:
            lines = sorted(
                f"{clean_name(sid)}|{clean_name(k)}={clean(_jstr(v))}"
                for sid, kv in props.items()
                if kv is not None
                for k, v in kv.items()
                if v is not None
            )
        cols["props_flat"].append("\n".join(lines))
        cols["parse_error"].append(False)

    err = pd.Series(cols["parse_error"], dtype="bool")
    return pd.DataFrame(
        {
            "priority": pd.Series(cols["priority"], dtype="int32"),
            "facility": pd.Series(cols["facility"], dtype="int32"),
            "severity": pd.Series(cols["severity"], dtype="int32"),
            # error rows carry a fully-zeroed header (the forced-5424
            # convention from the r1 ADVICE fix)
            "version": np.where(err.to_numpy(), 0, 1).astype("int32"),
            # nullable: absent/non-grammar timestamps are NULL on valid
            # rows (Column-twin parity); error rows carry ingest time
            "time_reported": pd.Series(cols["time_reported"], dtype="Int64"),
            "time_generated": pd.Series(cols["time_generated"], dtype="Int64"),
            "hostname": cols["hostname"],
            "appname": cols["appname"],
            "procid": cols["procid"],
            "msgid": cols["msgid"],
            "structured": [""] * n,
            "message": cols["message"],
            "props_flat": cols["props_flat"],
            "parse_format": ["json"] * n,
            "parse_error": err,
        }
    )


register_parser("json", parse_json_batch)


_RS_TS_RE = None  # compiled lazily; module import stays light


def parse_rsyslog_json_batch(text: pd.Series, ingest_us: pd.Series) -> pd.DataFrame:
    """Vectorized pRsyslogJSON kernel — the dispatchable twin of the
    Column-based ``wire_formats.decode_rsyslog_json``
    (decoders/json_format.go:22-98), parity-pinned by
    ``tests/test_parse_units.py::test_rsyslog_kernel_matches_column_decoder``:
    pri string -> strconv.Atoi (optional sign, any int64; >int64 or
    junk -> decode ERROR with zeroed header) then Go's int32 narrowing
    on priority and on facility/severity computed from the UNNARROWED
    int with trunc-toward-zero division and sign-following mod
    (json_format.go:29-32,81-84), '-' fields (compared UNTRIMMED) ->
    '' with trimming otherwise, RFC3339 times on the shared
    encoders.JSON_TS_RE grammar with ingest fallback for '-'/empty and
    ERROR for junk, '$!' bag -> sorted 'rsyslog|k=v' lines with
    trimmed keys/values."""
    import json
    import re
    from datetime import datetime, timedelta, timezone

    from skewer_spark.encoders import JSON_TS_RE

    global _RS_TS_RE
    if _RS_TS_RE is None:
        _RS_TS_RE = re.compile(JSON_TS_RE)

    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    us = timedelta(microseconds=1)

    def ts_us(v: object, fallback: int) -> int | None:
        """None = decode error; mirrors _rs_ts exactly."""
        if v is None or v == "-" or v == "":
            return fallback
        if not _RS_TS_RE.fullmatch(str(v)):
            return None
        try:
            dt = datetime.fromisoformat(str(v))
        except ValueError:
            # regex-valid but calendar-invalid: Column try_cast -> NULL
            return None
        return (dt - epoch) // us

    def wrap32(x: int) -> int:
        """Go int32(x) two's-complement truncation (_wrap_int32 twin)."""
        low = x % 2**32
        return low - 2**32 if low >= 2**31 else low

    def nil(v: object) -> str:
        s = _jstr(v)
        if s is None or s == "-":
            # compare UNTRIMMED to '-' (json_format.go:55-77): ' - '
            # must survive as '-', only the exact sentinel nils to ''
            return ""
        # strip(' ') not strip(): the Column twin's F.trim removes
        # SPACES only — Python's all-whitespace strip would also eat
        # tabs/newlines and diverge on padded fields
        return s.strip(" ")

    t = text.fillna("").reset_index(drop=True)
    ing = pd.to_numeric(ingest_us, errors="coerce").fillna(0).astype("int64")
    ing = ing.reset_index(drop=True)
    rows = []
    for i in range(len(t)):
        raw = t.iloc[i]
        fb = int(ing.iloc[i])
        try:
            obj = json.loads(raw)
            if not isinstance(obj, dict):
                raise ValueError
        except ValueError:
            obj = {}
        pri_s = _jstr(obj.get("pri")) or ""
        pri = int(pri_s) if re.fullmatch(r"[+-]?[0-9]+", pri_s) else None
        if pri is not None and not (-(2**63) <= pri <= 2**63 - 1):
            # Column twin's try_cast('long') nulls exactly where Atoi
            # overflows int64
            pri = None
        tr = ts_us(obj.get("timereported"), fb)
        tg = ts_us(obj.get("timegenerated"), fb)
        err = pri is None or tr is None or tg is None
        bag = obj.get("$!") or {}

        def _pv(v) -> str:
            # from_json-style coercion + space-only trim + \n\r
            # sanitization (props_flat is newline-delimited; an
            # embedded terminator would forge extra property lines)
            return (
                _jstr(v).strip(" ").replace("\n", " ").replace("\r", " ")
            )

        def _pk(v) -> str:
            # keys additionally sanitize '=' (the canonical 'k=v' line
            # can't represent it in a name) — Column twin's _san_k
            return _pv(v).replace("=", " ")

        props = "\n".join(sorted(
            f"rsyslog|{_pk(k)}={_pv(v)}"
            for k, v in bag.items()
            # a null bag value nulls the whole line JVM-side and
            # array_join drops it — mirror by skipping the entry
            if v is not None
        )) if isinstance(bag, dict) else ""
        if err:
            rows.append((0, 0, 0, 0, fb, fb, "", "", "", "", "", "", "", True))
        else:
            # Go % follows the dividend's sign; facility divides the
            # UNNARROWED int trunc-toward-zero, then each narrows
            r = pri % 8
            if pri < 0 and r:
                r -= 8
            rows.append((
                wrap32(pri), wrap32((pri - r) // 8), wrap32(r), 1, tr, tg,
                nil(obj.get("hostname")), nil(obj.get("app-name")),
                nil(obj.get("procid")), nil(obj.get("msgid")),
                nil(obj.get("structured-data")),
                (_jstr(obj.get("msg")) or "").strip(" "), props, False,
            ))
    cols = list(zip(*rows)) if rows else [[] for _ in range(14)]
    return pd.DataFrame(
        {
            "priority": pd.Series(cols[0], dtype="int32"),
            "facility": pd.Series(cols[1], dtype="int32"),
            "severity": pd.Series(cols[2], dtype="int32"),
            "version": pd.Series(cols[3], dtype="int32"),
            "time_reported": pd.Series(cols[4], dtype="int64"),
            "time_generated": pd.Series(cols[5], dtype="int64"),
            "hostname": list(cols[6]),
            "appname": list(cols[7]),
            "procid": list(cols[8]),
            "msgid": list(cols[9]),
            "structured": list(cols[10]),
            "message": list(cols[11]),
            "props_flat": list(cols[12]),
            "parse_format": ["rsyslog_json"] * len(rows),
            "parse_error": pd.Series(cols[13], dtype="bool"),
        }
    )


register_parser("rsyslog_json", parse_rsyslog_json_batch)


def _unknown_format_frame(
    text: pd.Series, ingest_us: pd.Series, name: str
) -> pd.DataFrame:
    """PARSED_SCHEMA-shaped degraded rows for an unregistered format."""
    t = text.fillna("").str.strip()
    ing = pd.to_numeric(ingest_us, errors="coerce").fillna(0).astype("int64")
    n = len(t)
    zi = np.zeros(n, dtype="int32")
    return pd.DataFrame(
        {
            "priority": zi,
            "facility": zi,
            "severity": zi,
            "version": zi,
            "time_reported": ing,
            "time_generated": ing,
            "hostname": [""] * n,
            "appname": [""] * n,
            "procid": [""] * n,
            "msgid": [""] * n,
            "structured": [""] * n,
            "message": t.to_numpy(copy=True),
            "props_flat": [""] * n,
            "parse_format": [f"unknown:{name}"] * n,
            "parse_error": np.ones(n, dtype="bool"),
        }
    )


def parse_with_formats(
    df: DataFrame,
    format_col: str = "fmt",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """transcripts + a format column -> parsed columns, dispatching each
    batch's rows to the registered kernel for their format value."""
    formats = dict(_REGISTRY)  # snapshot; closure ships to executors

    def _dispatch(fmt: pd.Series, text: pd.Series, ingest_us: pd.Series) -> pd.DataFrame:
        fmt = fmt.fillna("auto").reset_index(drop=True)
        text = text.reset_index(drop=True)
        ing = ingest_us.reset_index(drop=True)
        if not len(fmt):
            return formats["auto"](text, ing)
        pieces = []
        for name, idx in fmt.groupby(fmt).groups.items():
            kernel = formats.get(str(name))
            if kernel is None:
                # Unregistered format name (typo'd/stale config): do NOT
                # silently parse under a different grammar. Degrade to the
                # no-fail fallback shape (whole line in message, zeroed
                # header) and flag loudly — parse_format='unknown:<name>',
                # parse_error=True — so skw_parsing_errors_total surfaces
                # the misconfiguration. get_parser() still raises for
                # direct lookups; here a raise would abort the whole job
                # over one bad row at 100 TB.
                part = _unknown_format_frame(
                    text[idx].reset_index(drop=True),
                    ing[idx].reset_index(drop=True),
                    str(name),
                )
            else:
                part = kernel(text[idx].reset_index(drop=True), ing[idx].reset_index(drop=True))
            part.index = idx
            pieces.append(part)
        return pd.concat(pieces).sort_index().reset_index(drop=True)

    return apply_parse_udf(df, _dispatch, format_col, text_col, ts_col=ts_col)
