"""The parse operator: raw lines -> normalized events DataFrame.

Reference: `parser/Parser.java:507-564` (parse entry: fast matcher,
envelope strip, probe chain, normalization, max-age drop) and
`parser/ParserDoFn.java:83-122` (per-element DoFn wrapper + event-time
assignment `:116-118`).

Pipeline (one projection pass, all JVM-side):
  fast-matcher filter -> CloudWatch explode -> envelope strip ->
  payload when-cascade -> normalized projection -> event-time
  assignment -> max-age filter.

The fast matcher runs BEFORE any JSON work so Catalyst can push the
substring test into the scan — the reference implements the same
optimization manually (`Parser.java:507-516`, `Input.java:429-445`).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import EVENT_SCHEMA
from ..session import gateway_memo
from .envelopes import explode_cloudwatch, strip_envelopes
from .payloads import PayloadSpec, default_chain

# matches any character that is NOT whitespace under the widest common
# definition: Java regex \s ([ \t\n\x0B\f\r]) plus every extra char
# Python's str.isspace() accepts (the set hypothesis draws from when
# fuzzing parser totality). A line with no match is blank and drops.
_NON_BLANK_RE = (
    "[^\\s"                      # Java default: space \t \n \x0B \f \r
    "\u001c-\u001f\u0085\u00a0"   # FS GS RS US, NEL, NBSP
    "\u1680\u2000-\u200a"        # ogham space, en/em/thin spaces
    "\u2028\u2029\u202f"         # LS, PS, NNBSP
    "\u205f\u3000]"              # MMSP, ideographic space
)

_NORM_FIELDS = [
    "source_address",
    "subject_user",
    "object",
    "request_method",
    "request_path",
    "request_host",
    "request_status",
    "user_agent",
]


@dataclass
class ParserCfg:
    """Parser configuration (`parser/ParserCfg.java` analog)."""

    fast_matcher: str | None = None          # pre-parse substring filter
    max_timestamp_skew_seconds: int | None = None  # EventTooOld drop
    use_event_timestamp: bool = True         # ParserDoFn.java:116-118
    xff_trusted_cidrs: list[str] = field(default_factory=list)
    # ParserCfg.setUseXffAsRemote — XFF header overrides remote_addr
    # (Nginx.java:215-224); default OFF like the reference
    use_xff_as_remote: bool = False
    # ParserCfg.setUseProxyXff — trust the x_pipeline_proxy marker and
    # take the second/third-from-last XFF hop (Parser.java:211-238)
    use_proxy_xff: bool = False
    # ParserCfg.setStackdriverProjectFilter — keep only events whose
    # Stackdriver envelope project EQUALS this value (null project ->
    # drop); configuration ticks always pass (`ParserDoFn.java:58-80`
    # builds the common input filter with passConfigurationTicks,
    # project equality per `EventFilterRule.java:32-38`)
    stackdriver_project_filter: str | None = None
    # ParserCfg.setStackdriverLabelFilters — "<key>:<value>" exact
    # label matches, ALL must hold (`ParserDoFn.java:64-73` +
    # `EventFilterRule.java:39-50`); malformed specs fail at plan time
    # like the reference's IllegalArgumentException
    stackdriver_label_filters: tuple[str, ...] = ()
    chain: list[PayloadSpec] | None = None


_PARSE_IDS = itertools.count()


def _cached_chain(
    xff_trusted_cidrs: list[str],
    use_xff_as_remote: bool = False,
    use_proxy_xff: bool = False,
) -> list[PayloadSpec]:
    """The default payload chain, built once per py4j gateway and
    configuration (`session.gateway_memo`): its specs hold Column
    handles."""
    cidrs = tuple(xff_trusted_cidrs)
    return gateway_memo(
        ("parse.chain", cidrs, bool(use_xff_as_remote), bool(use_proxy_xff)),
        lambda: default_chain(list(cidrs), bool(use_xff_as_remote), bool(use_proxy_xff)),
    )


def _projection(chain: list[PayloadSpec]):
    """Input-independent pieces of the parse projection, built once per
    py4j gateway and chain (`session.gateway_memo`). Rebuilding them
    is NOT free: the 22-spec chain's when-cascades are ~3000 py4j
    round-trips, ~2.6 s of driver time per parse_events call (more
    than executing the parse at sf0.1). The memo value pins the chain,
    so an id()-keyed entry cannot alias a chain that was collected."""
    key = ("parse.projection", *(id(s) for s in chain))
    return gateway_memo(key, lambda: (chain, _build_projection(chain)))[1]


def _build_projection(chain: list[PayloadSpec]):
    # All cascades are built FLAT (one CaseWhen with N branches via
    # chained .when(), first match wins) rather than N nested
    # CaseWhens: the nested form is a depth-22 tree that Catalyst
    # re-traverses on every optimizer rule — measured ~2s of driver
    # analysis per parse query at 22 specs; the flat form is one node.
    def cascade(pairs, default):
        if not pairs:
            return default
        (c0, v0), *rest = pairs
        col = F.when(c0, v0)
        for cond, val in rest:
            col = col.when(cond, val)
        return col.otherwise(default) if default is not None else col

    ptype = cascade(
        [(spec.matcher, F.lit(spec.name)) for spec in chain], F.lit("raw")
    )

    def pick(fname: str):
        null = F.lit(None).cast(dict(zip(EVENT_SCHEMA.fieldNames(),
                                         [f.dataType.simpleString() for f in EVENT_SCHEMA]))
                                .get(fname, "string"))
        pairs = [
            (F.col("payload_type") == spec.name, spec.fields[fname])
            for spec in chain
            if spec.fields.get(fname) is not None
        ]
        return cascade(pairs, null) if pairs else null

    norm_type = cascade(
        [(F.col("payload_type") == spec.name, spec.normalized_type) for spec in chain],
        F.lit(None).cast("string"),
    )
    payload_ts = cascade(
        [
            (F.col("payload_type") == spec.name, spec.event_ts)
            for spec in chain
            if spec.event_ts is not None
        ],
        F.lit(None).cast("timestamp"),
    )

    def extras_map(spec):
        # null-valued keys are dropped via a to_json/from_json
        # round-trip (to_json omits null fields) rather than
        # map_filter: map_filter is a HigherOrderFunction with no
        # codegen support, and ONE interpreted expression in the
        # projection knocks the WHOLE parse select out of
        # whole-stage codegen (measured: 26k -> 252k rows/s on the
        # 22-spec chain when replaced)
        st = F.struct(
            *[v.cast("string").alias(k) for k, v in sorted(spec.extras.items())]
        )
        return F.from_json(F.to_json(st), "map<string,string>")

    extras_col = cascade(
        [
            (F.col("payload_type") == spec.name, extras_map(spec))
            for spec in chain
            if spec.extras
        ],
        F.lit(None).cast("map<string,string>"),
    )

    picks = [pick(f) for f in _NORM_FIELDS]
    return (ptype, norm_type, payload_ts, extras_col, picks)


def parse_events(
    df: DataFrame,
    cfg: ParserCfg | None = None,
    value_col: str = "value",
    now=None,
) -> DataFrame:
    """Parse raw log lines into the normalized event schema.

    `now` pins the reference clock for the max-age drop (tests pass a
    literal; production uses current_timestamp per micro-batch).
    """
    cfg = cfg or ParserCfg()
    chain = cfg.chain or _cached_chain(
        cfg.xff_trusted_cidrs, cfg.use_xff_as_remote, cfg.use_proxy_xff
    )

    # whitespace-only lines (trailing newlines, blank separators in
    # fixture/log files) carry no event — drop them at the scan rather
    # than emitting empty raw-fallback events. "Blank" means every char
    # is whitespace in the widest sense (Java \s plus the unicode
    # separators Python's str.isspace() recognizes: FS/GS/RS/US, NEL,
    # NBSP, ogham/en/em spaces, LS/PS, NNBSP, MMSP, ideographic space)
    # so the parser-totality property holds over the full range —
    # F.trim only strips ASCII 0x20 and let form-feed-only lines leak.
    # Fast path first: a printable-ASCII first character ('{', a
    # letter, '"'…) proves the line non-blank with two codegen string
    # compares; only lines that start with whitespace/control/unicode
    # pay the char-class regex (measured: the bare regex on every row
    # cost ~12% of parser throughput).
    first = F.substring(F.col(value_col), 1, 1)
    df = df.where(
        ((first >= "!") & (first <= "~"))
        | F.col(value_col).rlike(_NON_BLANK_RE)
    )

    if cfg.fast_matcher:
        # manual pushdown in the reference; free row-group pruning here
        df = df.where(F.col(value_col).contains(cfg.fast_matcher))

    streaming = df.isStreaming
    if not streaming:
        # the 22-spec projection is the most expensive map stage in the
        # engine; fan a narrow batch scan out first (no-op at scale,
        # see skew.spread). Streaming inputs keep their natural
        # micro-batch parallelism.
        from ..operators.skew import spread

        df = spread(df)

    df = explode_cloudwatch(df, value_col)
    df = strip_envelopes(df, value_col)

    ptype, norm_type, payload_ts, extras_col, picks = _projection(chain)

    # first-match-wins probe chain as a single when-cascade
    df = df.withColumn("payload_type", ptype)
    if not streaming:
        # The parse counters, as a CollectMetrics node: predicates do
        # not pass it, so a batch filter on a parsed column (a status,
        # a user agent, an EventFilter) stays above the normalized
        # select instead of having every aliased from_json and payload
        # cascade inlined into it (measured on 120 GLB lines: the
        # error-rate plan held 2770 from_json calls against the parse's
        # own 25). A streaming filter already stays
        # above: current_timestamp makes the select nondeterministic
        # per micro-batch. Names are unique per call, since one plan
        # may hold several parses.
        df = df.observe(
            f"parse_events#{next(_PARSE_IDS)}",
            F.count(F.lit(1)).alias("n_parsed"),
            F.count(F.when(F.col("payload_type") == "raw", 1)).alias("n_raw_fallback"),
        )

    ref_now = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    event_ts = (
        F.coalesce(payload_ts, F.col("envelope_ts"), ref_now)
        if cfg.use_event_timestamp
        else ref_now
    )

    out = df.select(
        F.expr("uuid()").alias("event_id"),
        event_ts.alias("timestamp"),
        F.col("payload_type"),
        norm_type.alias("normalized_type"),
        *[c.alias(f) for c, f in zip(picks, _NORM_FIELDS)],
        F.col("sd_project").alias("project_id"),
        F.col("j.labels").alias("labels"),
        (F.col("resource") if "resource" in df.columns else F.lit(None).cast("string")).alias(
            "resource"
        ),
        extras_col.alias("fields"),
        F.col("payload_text").alias("payload"),
        F.col(value_col).alias("raw"),
    )

    if cfg.max_timestamp_skew_seconds is not None:
        # ingest-time late-data policy (Parser.java:555-562
        # EventTooOldException -> drop)
        out = out.where(
            F.col("timestamp")
            >= ref_now - F.expr(f"INTERVAL {int(cfg.max_timestamp_skew_seconds)} SECONDS")
        )

    if cfg.stackdriver_project_filter or cfg.stackdriver_label_filters:
        # the common input filter (`ParserDoFn.java:54-80`): project /
        # label equality applied right after parse, before any inline
        # pipeline filter; cfgtick heartbeats always pass
        keep = F.lit(True)
        if cfg.stackdriver_project_filter:
            keep = keep & (
                F.col("project_id") == cfg.stackdriver_project_filter
            )
        for spec in cfg.stackdriver_label_filters:
            parts = spec.split(":", 1)
            if len(parts) != 2:
                raise ValueError(
                    "invalid format for Stackdriver label filter, "
                    "must be <key>:<value>"
                )
            keep = keep & (F.col("labels").getItem(parts[0]) == parts[1])
        out = out.where((F.col("payload_type") == "cfgtick") | keep)
    return out


def parse_events_observed(
    df: DataFrame,
    cfg: ParserCfg | None = None,
    value_col: str = "value",
    now=None,
):
    """`parse_events` plus parse telemetry — the Spark-first analog of
    the reference's Beam metrics counters (`ParserDoFn` counters that
    tests like TestThresholdAnalysis1.java:74-129 assert on).

    Returns (events, Observation). The Observation's `get` (available
    after the first action on the returned frame, batch mode) carries:
    n_parsed (post-fast-matcher rows BEFORE the age policy),
    n_raw_fallback (probe chain exhausted -> Raw payload),
    n_age_dropped (EventTooOld policy), and n_emitted (rows actually
    returned; always n_parsed - n_age_dropped, exposed so the counters
    reconcile with downstream row counts without arithmetic).
    Metrics ride the SAME single pass — no second scan; the age drop
    is applied after the observe node so dropped rows are still
    counted. Streaming queries attach the identical aggregates via
    df.observe(name, ...) and read them from the progress listener.
    """
    from dataclasses import replace

    from pyspark.sql import Observation

    cfg = cfg or ParserCfg()
    parsed = parse_events(
        df, replace(cfg, max_timestamp_skew_seconds=None), value_col, now
    )
    ref_now = (
        F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    )
    if cfg.max_timestamp_skew_seconds is not None:
        too_old = F.col("timestamp") < ref_now - F.expr(
            f"INTERVAL {int(cfg.max_timestamp_skew_seconds)} SECONDS"
        )
    else:
        too_old = F.lit(False)
    obs = Observation("parse_metrics")
    parsed = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("n_parsed"),
        F.count(F.when(F.col("payload_type") == "raw", 1)).alias("n_raw_fallback"),
        F.count(F.when(too_old, 1)).alias("n_age_dropped"),
        F.count(F.when(~too_old, 1)).alias("n_emitted"),
    )
    return parsed.where(~too_old), obs
