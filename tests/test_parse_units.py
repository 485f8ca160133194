"""Branch-exhaustive decoder unit tests, table-driven like the reference's
utils/conv_test.go:12-39. One case per branch of the RFC3164 cascade
(/root/reference/decoders/rfc3164_format.go:28-194) and the RFC5424
listener semantics (/root/reference/decoders/rfc5424_format.go:110-230).
"""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import parse_one

ING = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z


def test_classic_hostname_tag_pid():
    r = parse_one("<34>Oct 11 22:14:15 myhost app[123]: message body")
    assert (r["priority"], r["facility"], r["severity"]) == (34, 4, 2)
    assert r["hostname"] == "myhost"
    assert r["appname"] == "app"
    assert r["procid"] == "123"
    assert r["message"] == "message body"
    assert r["parse_format"] == "rfc3164"
    assert not r["parse_error"]


def test_classic_year_backfill_from_ingest():
    # rfc3164_format.go:107 backfills the current year; we use ingest year
    r = parse_one("<34>Oct 11 22:14:15 myhost app: hi", ingest_us=ING)
    ts = pd.Timestamp(r["time_reported"], unit="us", tz="UTC")
    assert ts == pd.Timestamp("2023-10-11T22:14:15Z")


def test_rfc3339_timestamp_branch():
    r = parse_one("<34>2019-08-16T12:00:00.500000Z myhost app: body")
    assert r["hostname"] == "myhost"
    assert r["appname"] == "app"
    assert r["message"] == "body"
    ts = pd.Timestamp(r["time_reported"], unit="us", tz="UTC")
    assert ts == pd.Timestamp("2019-08-16T12:00:00.5Z")


def test_rfc3339_with_offset():
    r = parse_one("<34>2019-08-16T12:00:00+02:00 h app: b")
    ts = pd.Timestamp(r["time_reported"], unit="us", tz="UTC")
    assert ts == pd.Timestamp("2019-08-16T10:00:00Z")


def test_bad_rfc3339_message_is_rest():
    # rfc3164_format.go:75-81: parse failure -> whole rest becomes message
    r = parse_one("<34>2019-13-99T99:00:00Z myhost app: body")
    assert r["message"] == "2019-13-99T99:00:00Z myhost app: body"
    assert r["time_reported"] == ING or r["time_reported"] > 0


def test_hostname_omitted():
    r = parse_one("<13>Oct 11 22:14:15 app[9]: body here")
    assert r["hostname"] == ""
    assert r["appname"] == "app"
    assert r["procid"] == "9"
    assert r["message"] == "body here"


def test_ipv4_hostname_heuristic():
    r = parse_one("<13>Oct 11 22:14:15 10.0.0.1 app[9]: body")
    assert r["hostname"] == "10.0.0.1"
    assert r["appname"] == "app"


def test_no_pri_fallback():
    # rfc3164_format.go:40-43: no '<' prefix -> whole line is the message
    r = parse_one("no priority plain text line", ingest_us=ING)
    assert (r["priority"], r["facility"], r["severity"]) == (0, 0, 0)
    assert r["message"] == "no priority plain text line"
    assert r["parse_format"] == "fallback"
    assert r["time_reported"] == ING


def test_big_pri_accepted_as_is():
    # valid int PRI accepted without range check: facility = pri/8
    r = parse_one("<999>Oct 11 22:14:15 h app: x")
    assert (r["priority"], r["facility"], r["severity"]) == (999, 124, 7)


def test_bad_pri_fallback():
    # Atoi failure (rfc3164_format.go:50-54) -> fallback
    r = parse_one("<12a>whatever")
    assert (r["priority"], r["facility"], r["severity"]) == (0, 0, 0)
    assert r["message"] == "<12a>whatever"
    assert r["parse_format"] == "fallback"


def test_empty_angle_fallback():
    # priEnd <= 1 (rfc3164_format.go:45-47)
    r = parse_one("<>stuff")
    assert r["parse_format"] == "fallback"
    assert r["message"] == "<>stuff"


def test_pri_only_degenerate():
    # rfc3164_format.go:59-67
    for line in ["<34>", "<34>   "]:
        r = parse_one(line, ingest_us=ING)
        assert (r["priority"], r["facility"], r["severity"]) == (34, 4, 2)
        assert r["message"] == ""
        assert r["time_reported"] == ING


def test_two_token_tag_then_message():
    # rfc3164_format.go:136-141
    r = parse_one("<34>Oct 11 22:14:15 app[1]: body")
    assert r["appname"] == "app"
    assert r["procid"] == "1"
    assert r["message"] == "body"


def test_two_token_reference_quirk():
    # rfc3164_format.go:142-147: s[1] looks like a tag -> hostname=s[0] AND
    # tag is (quirkily) parsed from s[0] — reproduced on purpose
    r = parse_one("<34>Oct 11 22:14:15 myhost app[1]:")
    assert r["hostname"] == "myhost"
    assert r["appname"] == "myhost"
    assert r["message"] == ""


def test_two_token_plain_appname():
    # rfc3164_format.go:148-151
    r = parse_one("<34>Oct 11 22:14:15 someapp body")
    assert r["appname"] == "someapp"
    assert r["message"] == "body"


def test_one_token_after_ts():
    # rfc3164_format.go:116-119
    r = parse_one("<34>Oct 11 22:14:15 lonely")
    assert r["message"] == "lonely"
    assert r["appname"] == ""


def test_non_hostname_first_token_is_tag():
    # rfc3164_format.go:154-159: '!' makes isHostname false -> tag branch
    r = parse_one("<34>Oct 11 22:14:15 app! one two")
    assert r["appname"] == "app!"
    assert r["message"] == "one two"


def test_tag_variants():
    cases = {
        "<34>Oct 11 22:14:15 h TAG m x": ("TAG", ""),
        "<34>Oct 11 22:14:15 h TAG: m x": ("TAG", ""),
        "<34>Oct 11 22:14:15 h TAG[7] m x": ("TAG", "7"),
        "<34>Oct 11 22:14:15 h TAG[7]: m x": ("TAG", "7"),
        "<34>Oct 11 22:14:15 h TAG[7 m x": ("TAG", "7"),
    }
    for line, (app, pid) in cases.items():
        r = parse_one(line)
        assert (r["appname"], r["procid"]) == (app, pid), line


def test_rfc5424_full():
    r = parse_one(
        '<165>1 2003-10-11T22:14:15.003000Z mymachine evntslog 111 ID47 '
        '[exampleSDID@32473 iut="3" eventSource="App"] An application event'
    )
    assert (r["priority"], r["facility"], r["severity"]) == (165, 20, 5)
    assert r["version"] == 1
    assert r["hostname"] == "mymachine"
    assert r["appname"] == "evntslog"
    assert r["procid"] == "111"
    assert r["msgid"] == "ID47"
    assert r["message"] == "An application event"
    assert r["props_flat"] == (
        "exampleSDID@32473|eventSource=App\nexampleSDID@32473|iut=3"
    )
    ts = pd.Timestamp(r["time_reported"], unit="us", tz="UTC")
    assert ts == pd.Timestamp("2003-10-11T22:14:15.003Z")
    assert not r["parse_error"]


def test_rfc5424_all_nil():
    # '-' nil fields -> empty strings (rfc5424_format.go:154-192)
    r = parse_one("<165>1 - - - - - -", ingest_us=ING)
    assert r["version"] == 1
    for f in ("hostname", "appname", "procid", "msgid", "structured", "message"):
        assert r[f] == "", f
    assert r["time_reported"] == ING
    assert not r["parse_error"]


def test_rfc5424_sd_escape():
    # escaped ']' inside an SD value (encoders/rfc5424.go:84-110)
    r = parse_one('<165>1 2003-10-11T22:14:15Z host app - - [a b="c\\]d"]')
    assert r["structured"] == '[a b="c\\]d"]'  # raw wire text, escapes kept
    # canonical props_flat stores the UNESCAPED logical value
    # (SetProperty, model/types.go:497-512) — the encoder re-escapes
    assert r["props_flat"] == "a|b=c]d"
    assert r["message"] == ""


def test_rfc5424_multiple_sd_elements():
    r = parse_one('<165>1 - h a - - [s1 k="v"][s2 x="y" z="w"] msg')
    assert r["props_flat"] == "s1|k=v\ns2|x=y\ns2|z=w"
    assert r["message"] == "msg"


def test_rfc5424_malformed_is_parse_error():
    # 5424 parse failure is a real error (rfc5424_format.go:43-49),
    # unlike 3164 which never fails
    r = parse_one("<165>1 too few header fields")
    assert r["parse_format"] == "rfc5424"
    assert r["parse_error"]


def test_rfc5424_bad_timestamp_is_parse_error():
    r = parse_one("<165>1 NOT-A-TIME h a - - - msg")
    assert r["parse_error"]


def test_tool_invocation_turn():
    r = parse_one(
        '<134>1 2024-01-01T10:44:30.589998Z agent toolrunner 7 - '
        '[tool name="exec" status="ok"] invoked exec(11)'
    )
    assert r["appname"] == "toolrunner"
    assert r["props_flat"] == "tool|name=exec\ntool|status=ok"
    assert r["message"] == "invoked exec(11)"


def test_never_raises_on_junk():
    junk = ["", " ", "<", "<>", "<999999999999999999999>x", "\x00\x01", "a b c d e f g",
            "<1>1", "<5>x", "🦆 unicode", "<34>Oct", "<34>Oct 11", "<34>9"]
    from skewer_spark.parsing.syslog import parse_batch

    res = parse_batch(pd.Series(junk), pd.Series([ING] * len(junk)))
    assert len(res) == len(junk)
    # 3164-side junk must never flag errors (the no-fail contract)
    non5424 = res[res.parse_format != "rfc5424"]
    assert not non5424.parse_error.any()


def test_properties_map_materializes_two_level_map(spark):
    from pyspark.sql import functions as F

    from skewer_spark.parsing.syslog import properties_map

    df = spark.createDataFrame(
        [("a|x=1\na|y=2\nb|k=v=w",), ("",)], "props_flat string"
    ).select(properties_map().alias("properties"))
    rows = df.collect()
    assert rows[0]["properties"] == {"a": {"x": "1", "y": "2"}, "b": {"k": "v=w"}}
    assert rows[1]["properties"] == {}


def test_forced_parser_modes():
    from skewer_spark.parsing.arrowparse import parse_batch_arrow

    lines = pd.Series(
        [
            "<13>1 2024-01-01T10:00:00Z h app 1 - - msg",  # valid 5424
            "<13>Oct 11 22:14:15 myhost app[1]: body",  # valid 3164
            "no pri at all",
        ]
    )
    ing = pd.Series([ING] * len(lines))
    # forced 5424: only the first line parses; the rest are decode ERRORS
    f54 = parse_batch_arrow(lines, ing, mode="rfc5424")
    assert list(f54["parse_format"]) == ["rfc5424"] * 3
    assert list(f54["parse_error"]) == [False, True, True]
    assert f54["appname"][0] == "app" and f54["message"][0] == "msg"
    # forced 3164: the 5424 line is just tokens to p3164 (digit-branch
    # RFC3339 parse of '1' fails -> whole rest in message); never errors
    f31 = parse_batch_arrow(lines, ing, mode="rfc3164")
    assert list(f31["parse_error"]) == [False, False, False]
    assert f31["parse_format"][0] == "rfc3164"
    assert f31["message"][0].startswith("1 2024-01-01T10:00:00Z")
    assert f31["appname"][1] == "app" and f31["procid"][1] == "1"
    assert f31["parse_format"][2] == "fallback"


def test_forced_5424_error_rows_carry_no_header_fields():
    # the reference discards the whole message when the 5424 grammar
    # fails (rfc5424_format.go:25-51): decode-error rows must not leak
    # PRI-derived facility/severity into downstream aggregations
    from skewer_spark.parsing.arrowparse import parse_batch_arrow

    lines = pd.Series(
        [
            "<165>not 5424 at all",  # PRI but no '1 ' prefix
            "<165>1 bad grammar",  # '1 ' prefix but grammar fails
            "<165>1 NOT-A-TIME h a - - - msg",  # grammar ok, ts fails
        ]
    )
    f = parse_batch_arrow(lines, pd.Series([ING] * 3), mode="rfc5424")
    assert list(f["parse_error"]) == [True, True, True]
    # grammar failures: zeroed header
    assert list(f["priority"][:2]) == [0, 0]
    assert list(f["facility"][:2]) == [0, 0]
    assert list(f["severity"][:2]) == [0, 0]
    # grammar-pass-but-bad-timestamp keeps its fields (composite parity)
    assert f["priority"][2] == 165 and f["appname"][2] == "a"


def test_dispatch_unknown_format_degrades_and_flags():
    from skewer_spark.parsing.registry import _unknown_format_frame

    t = pd.Series(["<13>Oct 11 22:14:15 h app: body", ""])
    f = _unknown_format_frame(t, pd.Series([ING, ING]), "typo_fmt")
    assert list(f["parse_format"]) == ["unknown:typo_fmt"] * 2
    assert list(f["parse_error"]) == [True, True]
    assert f["message"][0] == t[0]  # no-fail degrade: whole line kept
    assert f["priority"][0] == 0  # NOT parsed under another grammar


def test_dispatch_udf_routes_unknown_format(spark):
    from pyspark.sql import functions as F

    from skewer_spark.parsing.registry import parse_with_formats

    df = spark.createDataFrame(
        [("c", 0, "", "<13>Oct 11 22:14:15 h app: body", "", "nope_fmt"),
         ("c", 1, "", "<13>Oct 11 22:14:15 h app: body", "", "auto")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, fmt string",
    ).withColumn("ts", F.timestamp_micros(F.lit(ING)))
    out = {r["turn_idx"]: r for r in parse_with_formats(df).collect()}
    assert out[0]["parse_format"] == "unknown:nope_fmt"
    assert out[0]["parse_error"] is True
    assert out[0]["appname"] == ""
    assert out[1]["parse_format"] == "rfc3164"
    assert out[1]["appname"] == "app"


def test_registry_unknown_format_raises_and_custom_registers():
    import pytest as _pytest

    from skewer_spark.parsing import registry as reg

    with _pytest.raises(KeyError):
        reg.get_parser("nope")
    marker = lambda t, i: reg.parse_kv_batch(t, i)
    reg.register_parser("_test_fmt", marker)
    assert reg.get_parser("_test_fmt") is marker
    del reg._REGISTRY["_test_fmt"]


def test_gelf_chunk_dedup_and_caps(spark):
    # duplicate datagrams (UDP retransmit) dedupe by seq_nr like the
    # reference's map-keyed buffer (graylog.go:258-262); a duplicate must
    # neither block emission nor mask a genuinely missing chunk; groups
    # with seq_count > 128 are discarded (graylog.go:236-240)
    from skewer_spark.parsing.wire_formats import reassemble_gelf_chunks

    rows = [
        # m1: complete, chunk 1 duplicated -> emits "abc"
        ("m1", 0, 3, "a"), ("m1", 1, 3, "b"), ("m1", 1, 3, "b"), ("m1", 2, 3, "c"),
        # m2: chunk 2 missing, chunk 0 duplicated -> must NOT emit
        ("m2", 0, 3, "x"), ("m2", 0, 3, "x"), ("m2", 1, 3, "y"),
        # m3: complete, no duplicates -> emits "pq"
        ("m3", 0, 2, "p"), ("m3", 1, 2, "q"),
        # m4: seq_count over the 128 cap -> discarded even if "complete"
        ("m4", 0, 129, "z"),
    ]
    df = spark.createDataFrame(
        rows, "msg_id string, seq_nr int, seq_count int, chunk string"
    )
    got = {r["msg_id"]: r["line"] for r in reassemble_gelf_chunks(df).collect()}
    assert got == {"m1": "abc", "m3": "pq"}


def test_ipv6_hostname_two_token_branch():
    # 7-colon token is hostname-ish (rfc3164_format.go:124-135)
    r = parse_one("<34>Oct 11 22:14:15 2001:db8:0:0:0:0:0:1 body")
    assert r["hostname"] == "2001:db8:0:0:0:0:0:1"
    assert r["message"] == "body"


def test_ipv6_hostname_three_token_quirk():
    # >=3 tokens: tag detection fires on the colons FIRST
    # (rfc3164_format.go:154) — the reference quirk, reproduced
    r = parse_one("<34>Oct 11 22:14:15 2001:db8:0:0:0:0:0:1 app[2]: b")
    assert r["hostname"] == ""
    assert r["appname"] == "2001:db8:0:0:0:0:0:1"
    assert r["message"] == "app[2]: b"


def test_charset_normalization_matches_reference():
    # encoding.go:10: lowercase, strip dashes, unknown -> utf8
    from skewer_spark.parsing.charsets import normalize_charset

    assert normalize_charset("UTF-8") == ("utf-8", "skewer_onebyte")
    assert normalize_charset("ISO-8859-1") == ("latin-1", "replace")
    assert normalize_charset("latin1") == ("latin-1", "replace")
    assert normalize_charset("Windows-1252") == ("cp1252", "replace")
    assert normalize_charset("iso-8859-15") == ("iso8859-15", "replace")
    assert normalize_charset("LATIN15") == ("iso8859-15", "replace")
    assert normalize_charset("koi8-r") == ("utf-8", "skewer_onebyte")  # unknown
    assert normalize_charset("") == ("utf-8", "skewer_onebyte")


def test_transcode_degrades_never_fails():
    import pandas as pd

    from skewer_spark.parsing.charsets import transcode_series

    # latin-1: full byte plane maps 1:1 to codepoints
    s = transcode_series(pd.Series([bytes(range(256))]), "latin1")
    assert s[0] == "".join(chr(i) for i in range(256))
    # cp1252: 0x80 -> euro, 0x99 -> TM; the five undefined bytes -> U+FFFD
    s = transcode_series(
        pd.Series([b"\x80 \x99 \x81\x8d\x8f\x90\x9d"]), "windows-1252"
    )
    assert s[0] == "€ ™ �����"
    # latin-15: 0xA4 is the euro (differs from latin-1's currency sign)
    assert transcode_series(pd.Series([b"\xa4"]), "latin15")[0] == "€"
    assert transcode_series(pd.Series([b"\xa4"]), "latin1")[0] == "\xa4"
    # invalid utf-8: ONE U+FFFD per bogus byte (Go utf8.DecodeRune
    # consumes one byte per error), not Python's maximal-subpart policy
    s = transcode_series(pd.Series([b"a\xe2\x82b", b"\xff\xfe", b"caf\xc3\xa9"]), "utf8")
    assert s[0] == "a��b"
    assert s[1] == "��"
    assert s[2] == "café"
    # None/missing bytes degrade to empty string
    assert transcode_series(pd.Series([None], dtype=object), "utf8")[0] == ""


def test_parse_bytes_udf_latin1(spark):
    from pyspark.sql import functions as F

    from skewer_spark.parsing.charsets import parse_transcripts_bytes

    line = "<13>Oct 11 22:14:15 h app: caf\xe9 \xfcber"
    df = spark.createDataFrame(
        [("c", 0, bytearray(line.encode("latin-1")))],
        "conv_id string, turn_idx int, raw binary",
    ).withColumn("ts", F.timestamp_micros(F.lit(ING)))
    r = parse_transcripts_bytes(df, charset="iso-8859-1").collect()[0]
    assert r["message"] == "café über"
    assert r["appname"] == "app" and r["priority"] == 13


def test_decode_json_unknown_names_use_reference_defaults(spark):
    # FacilityFromString/SeverityFromString fall back to user=1/info=6
    # (model/types.go:189-208); omitted fields become empty strings;
    # Version forced 1, priority recomputed, structured cleared
    from pyspark.sql import functions as F

    from skewer_spark.encoders import decode_json

    rows = [
        ('{"facility":"auth","severity":"crit",'
         '"timereported":"2020-01-02T03:04:05.25Z",'
         '"timegenerated":"2020-01-02T03:04:05Z",'
         '"hostname":"h","message":"m",'
         '"properties":{"d":{"k":"v","a":"b"}}}',),
        ('{"facility":"nope","severity":"alsono"}',),
    ]
    df = spark.createDataFrame(rows, "line string")
    out = decode_json(df).collect()
    r0 = out[0]
    assert (r0["facility"], r0["severity"], r0["priority"]) == (4, 2, 34)
    assert r0["version"] == 1 and r0["structured"] == ""
    assert r0["time_reported"] == 1577934245250000
    assert r0["appname"] == "" and r0["hostname"] == "h"
    assert r0["props_flat"] == "d|a=b\nd|k=v"
    r1 = out[1]
    assert (r1["facility"], r1["severity"], r1["priority"]) == (1, 6, 14)
    assert r1["message"] == "" and r1["props_flat"] == ""


def test_route_mutation_is_per_rule_and_pass_only(spark):
    # vm.go:427-436: mutations kept on PASS; other rules and the
    # dead-letter path see the ORIGINAL fields
    from pyspark.sql import functions as F

    from skewer_spark.routing.rules import RouteRule, route_fanout, with_route_status

    rules = (
        RouteRule("s_mut", "'t'", "severity <= 4",
                  transform_exprs=(("appname", "'fw-' || appname"),)),
        RouteRule("s_plain", "'t'", "TRUE"),
    )
    df = (
        spark.createDataFrame(
            [("c", 0, "app1", 2, False), ("c", 1, "app2", 7, True)],
            "conv_id string, turn_idx int, appname string, severity int, "
            "parse_error boolean",
        )
        .withColumn("facility", F.lit(16))
        .withColumn("hostname", F.lit("h"))
    )
    routed = route_fanout(with_route_status(df), rules=rules, status_aware=True)
    got = {(r["sink"], r["turn_idx"]): r["appname"] for r in routed.collect()}
    assert got[("s_mut", 0)] == "fw-app1"     # mutated for the mutating rule
    assert got[("s_plain", 0)] == "app1"      # same row, untouched elsewhere
    assert got[("dead_letter", 1)] == "app2"  # rejected rows never mutated
    assert ("s_mut", 1) not in got


def test_w3c_decode_through_charset_transcode(spark):
    # parserWithEncoding wraps W3C too (decode.go:176): latin-1 W3C
    # bytes must transcode then decode with field values byte-exact
    import pandas as pd

    from pyspark.sql import functions as F

    from skewer_spark.parsing.charsets import transcode_series
    from skewer_spark.parsing.wire_formats import decode_w3c

    line = "2024-01-01 12:00:00 10.0.0.1 GET 200"
    accented = "2024-01-01 12:00:00 caf\xe9-host GET 200"

    @F.pandas_udf("string")
    def latin1(raw: pd.Series) -> pd.Series:
        return transcode_series(raw, "latin1")

    df = spark.createDataFrame(
        [(bytearray(line.encode("latin-1")),),
         (bytearray(accented.encode("latin-1")),)],
        "raw binary",
    ).withColumn("line", latin1("raw"))
    rows = decode_w3c(df).collect()
    flats = {r["w3c_flat"] for r in rows}
    assert any("c-ip=café-host" in f for f in flats)
    assert any("c-ip=10.0.0.1" in f for f in flats)


def test_json_kernel_matches_column_decoder(spark, sf_dir):
    # the dispatchable pJSON kernel (registry 'json') and the
    # Column-based encoders.decode_json must produce IDENTICAL internal
    # fields on the whole encoded corpus — same dual-implementation
    # parity contract as the two syslog kernels
    from skewer_spark import enrich as enr
    from skewer_spark.encoders import decode_json, encode_json
    from skewer_spark.parsing.registry import parse_json_batch
    from skewer_spark.queries import load_parsed

    p = enr.enrich(load_parsed(spark, sf_dir), spark).where("NOT parse_error")
    lines_df = p.select("conv_id", "turn_idx", encode_json().alias("line"))
    want = (
        decode_json(lines_df)
        .select(
            "conv_id", "turn_idx", "priority", "facility", "severity",
            "version", "time_reported", "time_generated", "hostname",
            "appname", "procid", "msgid", "structured", "message",
            "props_flat",
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    src = lines_df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got = parse_json_batch(src["line"], pd.Series([0] * len(src), dtype="int64"))
    for col in ("priority", "facility", "severity", "version",
                "time_reported", "time_generated", "hostname", "appname",
                "procid", "msgid", "structured", "message", "props_flat"):
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col
    assert not got["parse_error"].any()


def test_json_kernel_matches_column_decoder_hostile(spark):
    # the documented EQUAL contract must hold on HOSTILE JSON, not just
    # the benign encoded corpus (r3 ADVICE): newline/CR injection into
    # property sid/key/value (props_flat is newline-delimited), missing
    # timestamps, and timestamps outside the shared RFC3339 grammar
    # that pd.Timestamp would happily accept ('2024-01-01', prose
    # dates) but Spark's gated cast must not.
    import json as _json

    from skewer_spark.encoders import decode_json
    from skewer_spark.parsing.registry import parse_json_batch

    lines = [
        _json.dumps({"facility": "kern", "severity": "crit",
                     "message": "m", "properties":
                     {"s\nid": {"k\rey": "a\nb", "ok": "v"}}}),
        _json.dumps({"message": "no timestamps at all"}),
        _json.dumps({"message": "date only",
                     "timereported": "2024-01-01",
                     "timegenerated": "2024-01-01"}),
        _json.dumps({"message": "prose date pandas would parse",
                     "timereported": "March 5 2024 12:00",
                     "timegenerated": "yesterday"}),
        _json.dumps({"message": "offset + fraction",
                     "timereported": "2024-06-01T01:02:03.123456+05:00",
                     "timegenerated": "2024-06-01T01:02:03Z"}),
        _json.dumps({"message": "too many fraction digits",
                     "timereported": "2024-06-01T01:02:03.1234567Z",
                     "timegenerated": "2024-06-01T01:02:03.9Z"}),
        _json.dumps({"message": "eq in names", "properties":
                     {"si=d": {"k=x": "v", "ok": "a=b"}}}),
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    want = decode_json(df).toPandas()
    got = parse_json_batch(
        pd.Series(lines), pd.Series([0] * len(lines), dtype="int64")
    )
    assert not got["parse_error"].any()
    for col in ("priority", "facility", "severity", "version", "hostname",
                "appname", "procid", "msgid", "structured", "message",
                "props_flat"):
        assert got[col].tolist() == want[col].tolist(), col
    for col in ("time_reported", "time_generated"):
        g = got[col].astype("Int64")
        w = want[col].astype("Int64")
        assert (g.isna() == w.isna()).all(), col
        assert (g.dropna() == w.dropna()).all(), col
    # the injected line terminators were sanitized, not forwarded
    assert got["props_flat"][0] == "s id|k ey=a b\ns id|ok=v"
    # '=' in domain/param NAMES sanitized to ' ' (values untouched):
    # the canonical line form cannot carry it, and the space makes the
    # encodable gate reject the name like the reference's validName
    # rejects '='
    assert got["props_flat"][6] == "si d|k x=v\nsi d|ok=a=b"
    # grammar gate: rows 1-3 NULL, rows 4-5 parsed
    assert got["time_reported"].isna().tolist() == [
        True, True, True, True, False, True, True]
    assert got["time_generated"].isna().tolist() == [
        True, True, True, True, False, False, True]


def test_json_kernel_degrades_on_invalid():
    from skewer_spark.parsing.registry import parse_json_batch

    got = parse_json_batch(
        pd.Series(['{"facility": "kern"', "[1,2]", '{"severity": "crit"}']),
        pd.Series([5, 5, 5], dtype="int64"),
    )
    assert list(got["parse_error"]) == [True, True, False]
    assert got["version"].tolist() == [0, 0, 1]
    assert got["time_reported"].tolist()[:2] == [5, 5]  # ingest fallback
    assert got["facility"].tolist() == [0, 0, 1]   # default user=1 on valid
    assert got["severity"].tolist() == [0, 0, 2]   # crit=2


def test_rsyslog_kernel_matches_column_decoder(spark):
    # dispatchable pRsyslogJSON kernel vs the Column-based decoder:
    # identical output on every branch — valid, '-' nils, junk pri,
    # int32-overflow pri, junk timestamp, fractional timestamp,
    # ingest-fallback times, '$!' bag trimming
    import json as _json

    from skewer_spark.parsing.registry import parse_rsyslog_json_batch
    from skewer_spark.parsing.wire_formats import decode_rsyslog_json

    ING = 1_700_000_000_000_000
    lines = [
        _json.dumps({"pri": "165", "msg": "  hello  ",
                     "timereported": "2024-01-01T12:00:00Z",
                     "timegenerated": "2024-01-01T12:00:00.123456Z",
                     "hostname": " h1 ", "app-name": "-", "procid": "77",
                     "msgid": "-", "structured-data": "-",
                     "$!": {" k1 ": " v1 ", "k2": "v2"}}),
        _json.dumps({"pri": "bogus", "msg": "x",
                     "timereported": "2024-01-01T12:00:00Z",
                     "timegenerated": "2024-01-01T12:00:00Z"}),
        _json.dumps({"pri": "99999999999", "msg": "overflow",
                     "timereported": "-", "timegenerated": "-"}),
        _json.dumps({"pri": "13", "msg": "fallback times",
                     "timereported": "-", "timegenerated": ""}),
        _json.dumps({"pri": "13", "msg": "bad ts",
                     "timereported": "2024-13-01T12:00:00Z",
                     "timegenerated": "2024-01-01T12:00:00Z"}),
        _json.dumps({"pri": "0", "msg": ""}),
    ]
    df = spark.createDataFrame(
        [(l, ING) for l in lines], "line string, ing_us long"
    )
    cols = ["priority", "facility", "severity", "version", "time_reported",
            "time_generated", "hostname", "appname", "procid", "msgid",
            "structured", "message", "props_flat", "parse_error"]
    want = decode_rsyslog_json(df).select(*cols).toPandas()
    got = parse_rsyslog_json_batch(
        pd.Series(lines), pd.Series([ING] * len(lines), dtype="int64")
    )
    for c in cols:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), (
            c, got[c].tolist(), want[c].tolist()
        )


def test_sd_values_unescaped_and_roundtrip_stable(spark):
    # canonical props_flat stores the UNESCAPED param value (the
    # reference's SetProperty stores the logical value); the RFC5424
    # encoder applies escapeSDParam exactly once, so parse->encode->
    # parse is a fixpoint even for values with quotes, backslashes,
    # pipes, and ']'
    import pandas as pd

    from skewer_spark.encoders import encode_rfc5424
    from skewer_spark.parsing.syslog import parse_batch

    line = ('<34>1 2024-01-01T00:00:00Z h a p m '
            '[ex@1 k="a\\"b\\\\c" j="x|y" z="q\\]r"] hi')
    p1 = parse_batch(pd.Series([line]), pd.Series([0]))
    assert p1["props_flat"][0] == 'ex@1|j=x|y\nex@1|k=a"b\\c\nex@1|z=q]r'
    df = spark.createDataFrame(p1)
    wire = df.select(encode_rfc5424().alias("w")).collect()[0]["w"]
    p2 = parse_batch(pd.Series([wire]), pd.Series([0]))
    assert p2["props_flat"][0] == p1["props_flat"][0]
    assert p2["message"][0] == "hi"


def test_duplicate_sd_param_names_encode_last_wins(spark):
    # RFC5424 allows repeated PARAM-NAMEs; the reference's SetProperty
    # is a map OVERWRITE (model/types.go:497-512) so only the LAST
    # occurrence survives — the parse dedups in occurrence order, so
    # props_flat carries ONE line per (sid, name). The ordering matters:
    # 'k="b" k="a"' must keep 'a' (the message's last occurrence), not
    # 'b' (the lexicographic max a sort-then-LAST_WIN would keep).
    import json

    import pandas as pd

    from skewer_spark.encoders import encode_gelf
    from skewer_spark.parsing.syslog import parse_batch

    lines = [
        '<34>1 2024-01-01T00:00:00Z h a p m [ex@1 k="a" k="b"] hi',
        '<34>1 2024-01-01T00:00:00Z h a p m [ex@1 k="b" k="a"] hi',
        # same sid split across two SD elements: still one map
        '<34>1 2024-01-01T00:00:00Z h a p m [s1 a="1"][s1 a="3" b="x"] hi',
    ]
    p = parse_batch(pd.Series(lines), pd.Series([0, 0, 0]))
    assert p["props_flat"][0] == "ex@1|k=b"
    assert p["props_flat"][1] == "ex@1|k=a"
    assert p["props_flat"][2] == "s1|a=3\ns1|b=x"
    df = spark.createDataFrame(p).withColumn(
        "facility_name", __import__("pyspark.sql.functions",
                                    fromlist=["F"]).lit("auth")
    )
    gelf = json.loads(
        df.where("props_flat = 'ex@1|k=a'")
        .select(encode_gelf().alias("g"))
        .collect()[0]["g"]
    )
    assert gelf["_props"]["ex@1"]["k"] == "a"  # message's LAST occurrence


def test_trailing_newline_rejected_by_topic_and_encodable(spark):
    # Java regex '$' forgives a final newline; the \z anchors must
    # reject it on BOTH engines (a newline topic would corrupt the
    # wire; DuckDB's RE2 already rejected it -> oracle divergence)
    import duckdb

    from skewer_spark.encoders import _ASCII_RE
    from skewer_spark.routing.rules import TOPIC_VALID_RE

    from pyspark.sql import functions as F

    # Column-API rlike, as production uses it (a SQL literal would
    # additionally eat the backslash of \z — rules.py embeds the regex
    # into SQL text only on the DuckDB side, whose literals are raw)
    df = spark.createDataFrame([("valid-topic",), ("bad\n",)], "t string")
    got = [r[0] for r in df.select(F.col("t").rlike(TOPIC_VALID_RE)).collect()]
    assert got == [True, False]
    got2 = [r[0] for r in df.select(F.col("t").rlike(_ASCII_RE)).collect()]
    assert got2 == [True, False]
    con = duckdb.connect()
    assert con.sql(
        f"SELECT regexp_matches('valid-topic', '{TOPIC_VALID_RE}'), "
        f"regexp_matches('bad' || chr(10), '{TOPIC_VALID_RE}')"
    ).fetchone() == (True, False)


def test_transcode_passes_str_through():
    # a string-typed column reaching the bytes path must pass through,
    # not silently vanish to ''
    import pandas as pd

    from skewer_spark.parsing.charsets import transcode_series

    s = transcode_series(pd.Series([b"caf\xe9", "already str", None]), "latin1")
    assert list(s) == ["café", "already str", ""]


def test_routing_union_sql_refuses_hooked_rules():
    import pytest as _pytest

    from skewer_spark.routing.rules import RouteRule, routing_union_sql

    rules = (RouteRule("s", "'t'", "TRUE", filter_hook="rate_limit_mask"),)
    with _pytest.raises(ValueError, match="filter-hook"):
        routing_union_sql("parsed", rules)


def test_influx_negative_int_equals_in_string_and_col_param(spark):
    # reference typing (influxdb.go:48-90): negative integers are
    # _integer (not _float with a leaking 'i'), quoted values keep
    # everything after the FIRST '=', and the decoder honors a
    # non-default column name end to end
    from skewer_spark.parsing.wire_formats import decode_influx

    line = 'm,host=h1 count=-3i,note="a=b",x=1.5 1234'
    df = spark.createDataFrame([(line,)], "raw string")
    r = decode_influx(df, col="raw").collect()[0]
    assert r["hostname"] == "h1" and r["measurement"] == "m"
    fields = set(r["fields_flat"].split("\n"))
    assert "influxdb_fields|count_integer=-3" in fields
    assert "influxdb_fields|note_string=a=b" in fields
    assert "influxdb_fields|x_float=1.5" in fields


def test_gelf_missing_timestamp_defaults_to_zero(spark):
    # GELF timestamp is optional: absent -> epoch 0 (reference
    # zero-value TimeUnix), never NULL (a NULL epoch breaks
    # PARSED-schema sinks and drops rows from time-bucketed rollups)
    from skewer_spark.parsing.wire_formats import decode_gelf

    line = '{"version":"1.1","host":"h","short_message":"m","level":6}'
    df = spark.createDataFrame([(line,)], "line string")
    r = decode_gelf(df).collect()[0]
    assert r["time_reported"] == 0
    assert r["message"] == "m" and r["severity"] == 6


def test_json_kernel_coercion_matches_column_decoder(spark):
    # from_json coerces NON-string JSON values to strings ('0',
    # 'false', minified JSON text for objects); the kernel previously
    # emitted '' for falsy values and Python dict reprs for nested
    # objects, and crashed outright on a regex-valid but
    # calendar-invalid timestamp (month 13 passes \d{2})
    import json as _json

    from skewer_spark.encoders import decode_json
    from skewer_spark.parsing.registry import parse_json_batch

    lines = [
        _json.dumps({"message": 0, "hostname": False, "appname": True,
                     "procid": 1.50, "msgid": None}),
        _json.dumps({"message": {"a": 1, "b": "x"},
                     "hostname": [1, 2]}),
        _json.dumps({"message": "calendar-invalid ts",
                     "timereported": "2024-13-01T00:00:00Z",
                     "timegenerated": "2024-02-30T00:00:00Z"}),
        _json.dumps({"message": "null param value dropped",
                     "properties": {"sid": {"k": None, "ok": "v"}}}),
        _json.dumps({"message": "non-object domain nulls the whole map",
                     "properties": {"bad": "notamap",
                                    "sid": {"ok": "v"}}}),
        _json.dumps({"message": "null domain drops just that domain",
                     "properties": {"gone": None,
                                    "sid": {"ok": "v"}}}),
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    want = decode_json(df).toPandas()
    got = parse_json_batch(
        pd.Series(lines), pd.Series([0] * len(lines), dtype="int64")
    )
    assert not got["parse_error"].any()
    for col in ("message", "hostname", "appname", "procid", "msgid",
                "props_flat"):
        assert got[col].tolist() == want[col].tolist(), (
            col, got[col].tolist(), want[col].tolist()
        )
    assert got["message"][0] == "0" and got["hostname"][0] == "false"
    assert got["message"][1] == '{"a":1,"b":"x"}'
    assert got["time_reported"].isna().tolist()[:3] == [True, True, True]
    assert got["props_flat"][3] == "sid|ok=v"  # null param entry dropped
    # from_json PERMISSIVE parity: a non-object domain nulls the WHOLE
    # properties map; a null domain drops only itself
    assert got["props_flat"][4] == ""
    assert got["props_flat"][5] == "sid|ok=v"


def test_rsyslog_kernel_hostile_parity(spark):
    # trim parity (F.trim strips spaces only, never tabs/newlines),
    # from_json-style coercion of non-string bag values, null bag
    # entries dropped, and \n\r sanitized out of the newline-delimited
    # props_flat on BOTH engine sides
    import json as _json

    from skewer_spark.parsing.registry import parse_rsyslog_json_batch
    from skewer_spark.parsing.wire_formats import decode_rsyslog_json

    ING = 1_700_000_000_000_000
    lines = [
        _json.dumps({"pri": "13", "msg": "\thello\n",
                     "hostname": "\thost\t",
                     "timereported": "-", "timegenerated": "-"}),
        _json.dumps({"pri": "13", "msg": "m",
                     "timereported": "-", "timegenerated": "-",
                     "$!": {"k": None, "n": 0, "o": {"a": 1},
                            "inj": "a\nb"}}),
        _json.dumps({"pri": 13, "msg": "numeric pri",
                     "timereported": "-", "timegenerated": "-"}),
    ]
    df = spark.createDataFrame(
        [(l, ING) for l in lines], "line string, ing_us long"
    )
    cols = ["priority", "hostname", "message", "props_flat", "parse_error"]
    want = decode_rsyslog_json(df).select(*cols).toPandas()
    got = parse_rsyslog_json_batch(
        pd.Series(lines), pd.Series([ING] * len(lines), dtype="int64")
    )
    for c in cols:
        assert got[c].tolist() == want[c].tolist(), (
            c, got[c].tolist(), want[c].tolist()
        )
    assert got["message"][0] == "\thello\n"     # tabs/newlines NOT trimmed
    assert got["hostname"][0] == "\thost\t"
    assert got["props_flat"][1] == "rsyslog|inj=a b\nrsyslog|n=0\nrsyslog|o={\"a\":1}"


# ---- round-5 encoder-review regressions (enrich/dims/encoders) ----


def test_facilities_table_matches_reference():
    # the reference's Facilities map (model/types.go:45-70) has
    # 9=clock, 13=logaudit, 14=logalert, 15=cron — a scrambled table
    # silently mislabels every enrich/encode and breaks decode_json
    # round-trips against reference-produced JSON
    from skewer_spark.dims import FACILITIES

    d = dict(FACILITIES)
    assert len(d) == 24
    assert d[9] == "clock"
    assert d[13] == "logaudit"
    assert d[14] == "logalert"
    assert d[15] == "cron"


def test_out_of_range_codes_enrich_to_reference_string_defaults(spark):
    # Facility.String()/Severity.String() (model/types.go:182-208)
    # fall back to 'user'/'info' for unknown codes — never '' — and
    # facility > 23 is reachable ('<200>' -> facility 25)
    from skewer_spark.enrich import enrich

    df = spark.createDataFrame(
        [(25, 6, "user", "search"), (3, 99, "user", "search")],
        "facility int, severity int, role string, tool string",
    )
    rows = {
        (r["facility"], r["severity"]): r
        for r in enrich(df).collect()
    }
    assert rows[(25, 6)]["facility_name"] == "user"
    assert rows[(3, 99)]["severity_name"] == "info"


def _duck_on(pdf, expr_sql):
    import duckdb

    con = duckdb.connect()
    con.register("p", pdf)
    return con.execute(f"SELECT {expr_sql} AS e FROM p").df()["e"]


def test_multi_domain_props_encode_parity_and_sorted(spark):
    # two hazards at once: (1) DuckDB list_distinct is hash-based and
    # reorders, (2) lines sort by FULL text so sid 'a!b' lines come
    # before sid 'a' lines ('!' < '|') although 'a' < 'a!b' — both
    # engines must emit the SAME, sid-sorted properties object
    import json

    import pandas as pd

    from pyspark.sql import functions as F

    from skewer_spark.encoders import encode_json, encode_json_sql
    from skewer_spark.parsing.syslog import parse_batch

    line = ('<34>1 2024-01-01T00:00:00Z h a p m '
            '[zeta k="1"][a x="2"][a!b y="3"] hi')
    p = parse_batch(pd.Series([line]), pd.Series([0]))
    p["facility_name"] = "auth"
    p["severity_name"] = "crit"
    df = spark.createDataFrame(p)
    got_spark = df.select(encode_json().alias("e")).collect()[0]["e"]
    got_duck = _duck_on(p, encode_json_sql()).iloc[0]
    assert got_spark == got_duck
    props = json.loads(got_spark)["properties"]
    assert list(props.keys()) == sorted(props.keys()) == ["a", "a!b", "zeta"]


def test_pre_epoch_encode_parity(spark):
    # time_reported = -500000 µs (1969-12-31T23:59:59.5Z): DuckDB '%'
    # sign-follows and '//' truncates toward zero, so the unpatched
    # twins rendered '…59.-5Z' and '0.-50000'; both engines must agree
    # and the GELF float-seconds identity sec + frac/1e6 == value must
    # hold (floor, not truncate)
    import json

    import pandas as pd

    from skewer_spark.encoders import (
        encode_gelf,
        encode_gelf_sql,
        encode_json,
        encode_json_sql,
    )
    from skewer_spark.parsing.syslog import parse_batch

    line = "<34>1 1969-12-31T23:59:59.5Z h a p m - x"
    p = parse_batch(pd.Series([line]), pd.Series([0]))
    assert p["time_reported"][0] == -500_000
    p["facility_name"] = "auth"
    p["severity_name"] = "crit"
    df = spark.createDataFrame(p)
    sj = df.select(encode_json().alias("e")).collect()[0]["e"]
    dj = _duck_on(p, encode_json_sql()).iloc[0]
    assert sj == dj
    assert json.loads(sj)["timereported"] == "1969-12-31T23:59:59.5Z"
    sg = df.select(encode_gelf().alias("e")).collect()[0]["e"]
    dg = _duck_on(p, encode_gelf_sql()).iloc[0]
    assert sg == dg
    assert json.loads(sg)["timestamp"] == "-1.500000"  # -1 + 0.5 = -0.5s


def test_sd_param_name_truncated_to_32(spark):
    # encodeMsg5424 truncates param names to 32 chars
    # (encoders/rfc5424.go:159-161); both engines must emit name[:32]
    import pandas as pd

    from skewer_spark.encoders import encode_rfc5424, encode_rfc5424_sql
    from skewer_spark.parsing.syslog import parse_batch

    name40 = "n" * 40
    line = f'<34>1 2024-01-01T00:00:00Z h a p m [ex@1 {name40}="v"] hi'
    p = parse_batch(pd.Series([line]), pd.Series([0]))
    df = spark.createDataFrame(p)
    got_spark = df.select(encode_rfc5424().alias("e")).collect()[0]["e"]
    got_duck = _duck_on(p, encode_rfc5424_sql()).iloc[0]
    assert got_spark == got_duck
    assert f'[ex@1 {"n" * 32}="v"]' in got_spark
    assert name40 not in got_spark


def test_rfc5424_encodable_checks_sd_names(spark):
    # validRfc5424 also validates SD ids and param names via validName
    # (rfc5424.go:61-73,112-122): printable US-ASCII minus '=' ']' '"'
    # — a ']' sid or a space/quote param name is a PermError in the
    # reference, so the gate must classify it unencodable (both engines)
    import pandas as pd

    from skewer_spark.encoders import rfc5424_encodable, rfc5424_encodable_sql

    base = dict(hostname="h", appname="a", procid="p", msgid="m")
    rows = [
        dict(base, props_flat="", want=True),
        dict(base, props_flat="ex@1|k=v", want=True),
        dict(base, props_flat="a]b|k=v", want=False),      # ']' in sid
        dict(base, props_flat='ex@1|x"y=v', want=False),   # '"' in name
        dict(base, props_flat="ex@1|x y=v", want=False),   # space in name
        dict(base, props_flat="ex@1|k=v w]\"=", want=True),  # value: anything
    ]
    p = pd.DataFrame(rows)
    df = spark.createDataFrame(p)
    got = [
        r["e"]
        for r in df.select(
            rfc5424_encodable().alias("e"), "props_flat"
        ).collect()
    ]
    assert got == [r["want"] for r in rows]
    duck = _duck_on(p, rfc5424_encodable_sql()).tolist()
    assert duck == [r["want"] for r in rows]


def test_eq_in_json_property_name_is_unencodable(spark):
    # a JSON property name 'k=x' is a validName PermError in the
    # reference ('=' excluded, rfc5424.go:112-122) but the flat-line
    # extraction would read only 'k' (valid) — the decode_json/
    # parse_json_batch boundary sanitizes '=' -> ' ' in names so the
    # gate verdict matches the reference on BOTH engines
    import json as _json

    import pandas as pd

    from skewer_spark.encoders import (
        decode_json,
        rfc5424_encodable,
        rfc5424_encodable_sql,
    )

    line = _json.dumps(
        {"message": "m", "properties": {"sid": {"k=x": "v"}}}
    )
    df = decode_json(spark.createDataFrame([(line,)], "line string"))
    got = df.select(
        rfc5424_encodable().alias("e"), "props_flat"
    ).collect()[0]
    assert got["props_flat"] == "sid|k x=v"
    assert got["e"] is False
    p = pd.DataFrame(
        [dict(hostname="h", appname="a", procid="p", msgid="m",
              props_flat="sid|k x=v")]
    )
    assert _duck_on(p, rfc5424_encodable_sql()).tolist() == [False]


def test_duplicate_extracted_keys_do_not_crash_gelf_oracle(spark):
    # two distinct lines that EXTRACT to the same (sid, name) — only
    # reachable via a '|' smuggled into a property name — previously
    # crashed the DuckDB twin's MAP() ('Map keys must be unique'),
    # aborting the correctness gate; both engines must now keep the
    # LAST sorted line (Spark: mapKeyDedupPolicy=LAST_WIN) and agree
    import json

    import pandas as pd

    from skewer_spark.encoders import encode_gelf, encode_gelf_sql

    p = pd.DataFrame([dict(
        hostname="h", appname="a", procid="p", msgid="m", message="x",
        priority=34, severity=2, time_reported=1_700_000_000_000_000,
        time_generated=1_700_000_000_000_000,
        facility_name="auth", severity_name="crit",
        props_flat="s|a=1\ns|x|a=2",
    )])
    df = spark.createDataFrame(p)
    sg = df.select(encode_gelf().alias("g")).collect()[0]["g"]
    dg = _duck_on(p, encode_gelf_sql()).iloc[0]
    assert sg == dg
    assert json.loads(sg)["_props"]["s"]["a"] == "2"


def test_encode_file_null_ts_parity(spark):
    # pJSON rows can carry NULL time_reported; concat_ws would
    # silently drop the stamp ('h a msg') while the DuckDB twin's '||'
    # yields NULL — both engines must NULL-propagate
    import pandas as pd

    from skewer_spark.encoders import encode_file, encode_file_sql

    p = pd.DataFrame(
        [{"time_reported": pd.NA, "hostname": "h", "appname": "a",
          "message": "msg"}]
    ).astype({"time_reported": "Int64"})
    df = spark.createDataFrame(p)
    assert df.select(encode_file().alias("e")).collect()[0]["e"] is None
    assert _duck_on(p, encode_file_sql()).isna().iloc[0]


def test_pipe_in_json_property_key_degrades_identically(spark):
    # a '|' inside a JSON property name forges the canonical
    # 'sid|k=v' line; the extraction rule (name = last '|' segment
    # before the first '=') is shared by both engines, so the
    # degradation is identical instead of a hash mismatch
    import json

    import pandas as pd

    from skewer_spark.encoders import decode_json, encode_json, encode_json_sql

    raw = json.dumps(
        {"facility": "auth", "severity": "crit",
         "timereported": "2024-01-01T00:00:00Z",
         "timegenerated": "2024-01-01T00:00:00Z",
         "message": "m", "properties": {"s": {"a|b": "v"}}}
    )
    df = spark.createDataFrame([(raw,)], "line string")
    p = decode_json(df).toPandas()
    assert p["props_flat"][0] == "s|a|b=v"
    p["facility_name"] = "auth"
    p["severity_name"] = "crit"
    sdf = spark.createDataFrame(p)
    got_spark = sdf.select(encode_json().alias("e")).collect()[0]["e"]
    got_duck = _duck_on(p, encode_json_sql()).iloc[0]
    assert got_spark == got_duck
    assert json.loads(got_spark)["properties"] == {"s": {"b": "v"}}


def test_rsyslog_pri_atoi_semantics(spark):
    # strconv.Atoi + model int32 narrowing (json_format.go:29-32,81-84):
    # signed pri decodes (fac = trunc-div, sev sign-follows), int32
    # overflow WRAPS (Priority(int32(pri))), >int64 is a decode error —
    # the old digits-only-int31 gate rejected rows the reference accepts
    import pandas as pd

    from pyspark.sql import functions as F

    from skewer_spark.parsing.wire_formats import decode_rsyslog_json

    mk = lambda pri: (f'{{"pri":"{pri}","msg":"m","timereported":"-",'
                      '"timegenerated":"-","hostname":"h","app-name":"a",'
                      '"procid":"1","msgid":"-","structured-data":"-"}')
    cases = [
        ("-1", False, -1, 0, -1),
        ("+5", False, 5, 0, 5),
        ("34", False, 34, 4, 2),
        # 3e9 wraps to 3000000000 - 2^32 = -1294967296; fac/sev are
        # computed on the UNNARROWED 3e9 (Go int), then narrowed
        ("3000000000", False, -1294967296, 375000000, 0),
        ("oops", True, 0, 0, 0),
        ("99999999999999999999", True, 0, 0, 0),  # Atoi range error
    ]
    df = spark.createDataFrame(
        [(mk(p),) for p, *_ in cases], "line string"
    ).withColumn("ing_us", F.lit(0).cast("long"))
    got = decode_rsyslog_json(df).select(
        "line", "parse_error", "priority", "facility", "severity"
    ).toPandas()
    for (pri, err, p_, f_, s_), (_, g_err, g_p, g_f, g_s) in zip(
        cases, got.itertuples(index=False)
    ):
        assert bool(g_err) == err, pri
        assert (g_p, g_f, g_s) == (p_, f_, s_), pri


def test_rsyslog_rfc3339nano_offsets_and_fractions(spark):
    # time.RFC3339Nano accepts numeric offsets and millisecond
    # fractions (rsyslog's own date-rfc3339 emits them); the old
    # fixed-format list flagged such rows as decode errors
    from pyspark.sql import functions as F

    from skewer_spark.parsing.wire_formats import decode_rsyslog_json

    mk = lambda ts: ('{"pri":"34","msg":"m","timereported":"' + ts +
                     '","timegenerated":"-","hostname":"h","app-name":"a",'
                     '"procid":"1","msgid":"-","structured-data":"-"}')
    rows = [
        (mk("2024-03-01T00:00:00.123+02:00"), False,
         1709244000123000),  # 2024-02-29T22:00:00.123Z
        (mk("2024-03-01T00:00:00Z"), False, 1709251200000000),
        (mk("2024-03-01 00:00:00"), True, None),   # space, not RFC3339
        (mk("2024-13-01T00:00:00Z"), True, None),  # calendar-invalid
    ]
    df = spark.createDataFrame(
        [(l,) for l, *_ in rows], "line string"
    ).withColumn("ing_us", F.lit(7).cast("long"))
    got = decode_rsyslog_json(df).select(
        "parse_error", "time_reported"
    ).collect()
    for (_, err, us), r in zip(rows, got):
        assert r["parse_error"] == err
        if not err:
            assert r["time_reported"] == us


def test_rsyslog_untrimmed_dash_and_eq_key(spark):
    # ' - ' != '-' pre-trim, so it survives as '-' (json_format.go:55-57
    # compares THEN trims); a '$!' key with '=' sanitizes to ' ' at the
    # canonical-line boundary
    from pyspark.sql import functions as F

    from skewer_spark.parsing.wire_formats import decode_rsyslog_json

    line = ('{"pri":"34","msg":"m","timereported":"-","timegenerated":"-",'
            '"hostname":" - ","app-name":"a","procid":"1","msgid":"-",'
            '"structured-data":"-","$!":{"k=x":" v "}}')
    df = spark.createDataFrame([(line,)], "line string").withColumn(
        "ing_us", F.lit(0).cast("long")
    )
    r = decode_rsyslog_json(df).collect()[0]
    assert not r["parse_error"]
    assert r["hostname"] == "-"
    assert r["props_flat"] == "rsyslog|k x=v"


def test_gelf_generic_extras_and_sanitization(spark):
    # every non-header '_' extra reaches the gelf domain under its
    # underscored key (gelf.go:76-90 iterates Extra; go-gelf keeps the
    # '_' prefix), numbers coerce to their JSON text, \n in
    # full_message can't forge property lines, and the DuckDB oracle
    # twin agrees byte-for-byte
    import duckdb

    from skewer_spark.parsing.wire_formats import decode_gelf
    from skewer_spark.queries import _gelf_field_sql

    line = ('{"version":"1.1","host":"h","short_message":"m","level":6,'
            '"full_message":"a\\nevil|k=v","_facility":"daemon",'
            '"_appname":"app","_user_id":42,"_note":"x=y","_empty":"",'
            '"_nil":null}')
    df = spark.createDataFrame([(line,)], "line string")
    r = decode_gelf(df).collect()[0]
    lines = r["props_flat"].split("\n")
    assert "gelf|full=a evil|k=v" in lines       # \n sanitized, no forge
    assert "gelf|_user_id=42" in lines           # arbitrary extra, coerced
    assert "gelf|_note=x=y" in lines             # '=' fine in VALUES
    assert "gelf|_empty=" in lines               # empty string still set
    assert not any(l.startswith("gelf|_nil") for l in lines)  # null skipped
    assert not any(l.startswith("gelf|_appname") for l in lines)  # header
    assert r["appname"] == "app" and r["facility"] == 3
    con = duckdb.connect()
    duck = con.execute(
        f"SELECT {_gelf_field_sql()} FROM (SELECT ? AS line) s", [line]
    ).df().iloc[0]
    assert duck["props_flat"] == r["props_flat"]


def test_gelf_negative_seq_nr_discards_group(spark):
    # a negative seq_nr must not stand in for a missing chunk: the
    # reference's byte-typed seq can never be negative, so a group
    # {-1, 0} with seq_count=2 is out-of-band, not complete
    from skewer_spark.parsing.wire_formats import reassemble_gelf_chunks

    rows = [("m1", -1, 2, "a"), ("m1", 0, 2, "b"),
            ("m2", 0, 1, "ok")]
    df = spark.createDataFrame(
        rows, "msg_id string, seq_nr int, seq_count int, chunk string"
    )
    got = {r["msg_id"]: r["line"] for r in reassemble_gelf_chunks(df).collect()}
    assert got == {"m2": "ok"}


def test_influx_tagless_and_timestampless_lines(spark):
    # both are valid line protocol (reference models.ParsePoints):
    # tagless lines must not emit a phantom 'influxdb_tags|' entry, and
    # a missing trailing timestamp must not blank the field set
    import duckdb

    from skewer_spark.parsing.wire_formats import decode_influx, influx_oracle_exprs

    rows = [
        ("cpu value=1 123",),            # tagless, with ts
        ("cpu,host=h9 value=2",),        # tagged, no ts
        ("cpu value=3",),                # neither
    ]
    df = spark.createDataFrame(rows, "line string")
    got = decode_influx(df).select(
        "line", "measurement", "hostname", "tags_flat", "fields_flat", "ts_ns"
    ).toPandas().set_index("line")
    assert got.loc["cpu value=1 123", "measurement"] == "cpu"
    assert got.loc["cpu value=1 123", "tags_flat"] == ""
    assert got.loc["cpu value=1 123", "fields_flat"] == "influxdb_fields|value_float=1"
    assert got.loc["cpu value=1 123", "ts_ns"] == 123
    assert got.loc["cpu,host=h9 value=2", "hostname"] == "h9"
    assert got.loc["cpu,host=h9 value=2", "fields_flat"] == "influxdb_fields|value_float=2"
    assert pd.isna(got.loc["cpu,host=h9 value=2", "ts_ns"])
    assert got.loc["cpu value=3", "tags_flat"] == ""
    con = duckdb.connect()
    duck = con.execute(
        "SELECT line, " + influx_oracle_exprs() +
        " FROM (SELECT unnest(?) AS line) s", [[r[0] for r in rows]]
    ).df().set_index("line")
    for line in duck.index:
        for c in ("measurement", "hostname", "tags_flat", "fields_flat"):
            assert duck.loc[line, c] == got.loc[line, c], (line, c)


def test_avro_null_field_encodes_empty():
    # str(None) would smuggle the literal 'None' through the round trip
    from skewer_spark.parsing.avro_wire import FIELDS, decode_record, encode_record

    row = {f: f"v{i}" for i, f in enumerate(FIELDS)}
    row[FIELDS[2]] = None
    row["props_flat"] = ""
    dec = decode_record(encode_record(row))
    assert dec[FIELDS[2]] == ""
    assert dec[FIELDS[0]] == "v0"
