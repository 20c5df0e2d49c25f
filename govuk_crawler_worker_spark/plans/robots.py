"""robots.txt fetch + parse for HttpFetcher deployments.

The reference worker has NO robots.txt support (its politeness surface is
the Rate-Limit-Token header + crawl pacing, crawler.go:64-75) — this module
is production surface beyond parity, layered on the engine's existing
config-only rules:

* ``CrawlConfig.robots_disallow`` (static per-host prefixes) remains the
  default and is untouched;
* a DrainLoop constructed with ``fetch_robots=True`` and an HttpFetcher
  additionally keeps a catalog table

      robots(host, scheme, rules, crawl_delay, sitemaps, fetched_batch,
             unreachable)

  fetched through the SAME opener contract as page GETs — one GET of
  ``<scheme>://<host>/robots.txt`` per host per TTL, executed inside
  ``mapInPandas`` (executors fetch, never the driver), refreshed when the
  stored row is older than ``robots_ttl_batches``;
* enforcement is columnar: join the claim to the rules by host and take the
  longest-matching rule's verdict over ``array<struct<rx,n,allow>>`` — no
  per-row Python on the hot path; the route chain's existing ``robots_drop``
  handles the blocked rows.

Parsing implements RFC 9309 group + rule semantics:

* group selection — the most specific ``User-agent`` token that is a
  case-insensitive substring of our agent wins, falling back to ``*``;
  multiple groups at the winning specificity combine (§2.2.1); non-group
  lines (``Sitemap`` etc.) neither end a user-agent run nor start a group;
* ``Allow`` AND ``Disallow`` rules, with ``*`` (any sequence) and a trailing
  ``$`` (end anchor) wildcards (§2.2.3), decided by LONGEST-MATCH precedence
  (most pattern octets win; on an allow/disallow tie, allow wins — §2.2.2);
* rules are matched against path + ``?query`` (a rule containing ``?``
  constrains the query string, §2.2.2);
* fetch-status handling (§2.3.1): 2xx → parse; definitive 4xx → allow-all
  (absent file); 5xx / redirect / transport error → UNREACHABLE: the caller
  carries the host's previously stored rules forward, or assumes complete
  disallow when there are none (``fstatus`` column + the composition in
  :func:`live_robots`);
* ``Crawl-delay`` (de-facto extension, not in RFC 9309) is parsed with the
  same group selection (most polite value when groups combine) and ENFORCED:
  :func:`live_robots` keeps delayed hosts in a tiny ``robots_delays`` table
  broadcast into the claim's politeness window, where
  :func:`crawl_delay_budget_col` turns the delay into a per-batch budget
  (accumulated-fairness floor — a delay longer than the batch period yields
  0-budget batches rather than starvation).

Each stored rule is pre-translated to an anchored Java regex (``rx``) with
its raw-pattern octet length (``n``) so the longest-match decision is a pure
columnar ``filter``/``array_max`` over the claim rows.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROBOTS_BUCKETS = 64  # live robots.txt rules table, bucketed by host hash
RULES_TYPE = "array<struct<rx:string,n:int,allow:boolean>>"
_ROBOTS_BASE = (
    f"host string, scheme string, rules {RULES_TYPE}, crawl_delay double, "
    "sitemaps array<string>, fetched_batch long"
)
#: stored table schema; ``unreachable`` marks a host whose verdict is the
#: ASSUMED complete disallow of an unreachable first contact (no real rules
#: behind it) — the pipeline requeues its blocked claims for a retry instead
#: of dropping them, and re-fetches after a short window (ttl/8) instead of
#: the full TTL (RFC 9309 §2.3.1.4 requires the disallow only WHILE
#: unreachable).  Leaves written before the column existed read it as NULL
#: (the declared-schema read) → treated as ordinary rules.
ROBOTS_SCHEMA = _ROBOTS_BASE + ", unreachable boolean"
#: fetch output = base columns + the HTTP status (the unreachable-robots
#: composition in live_robots derives ``unreachable`` from it)
ROBOTS_FETCH_SCHEMA = _ROBOTS_BASE + ", fstatus int"

def _winning_groups(
    text: str, agent: str
) -> list[tuple[list[tuple[str, bool]], float | None]]:
    """Parse groups and return the rule lists + per-group crawl-delay of the
    groups matching ``agent`` at the WINNING specificity (the most specific
    matching ``User-agent`` token, falling back to ``*``; RFC 9309 §2.2.1:
    every group at that specificity combines)."""
    agent_l = agent.lower()
    groups: list[tuple[list[str], list[tuple[str, bool]], float | None]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, bool]] = []
    cur_delay: float | None = None
    in_agents = True  # a User-agent line after rules starts a NEW group
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_agents:
                groups.append((cur_agents, cur_rules, cur_delay))
                cur_agents, cur_rules, cur_delay = [], [], None
                in_agents = True
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_agents = False
            if val:  # an empty pattern matches nothing (empty Disallow =
                cur_rules.append((val, key == "allow"))  # allow-all)
        elif key == "crawl-delay":
            in_agents = False
            try:  # de-facto extension (not in RFC 9309): seconds between GETs
                d = float(val)
                if d > 0:
                    cur_delay = d if cur_delay is None else max(cur_delay, d)
            except ValueError:
                pass
        # "sitemap" (and any unknown key) is a NON-group line (RFC 9309
        # §2.2.2): it must neither end a user-agent run nor start a group
        # body, else "User-agent: a ⏎ Sitemap: … ⏎ User-agent: b ⏎
        # Disallow: /p" would silently give agent a allow-all (under-block)
    if cur_agents or cur_rules:
        groups.append((cur_agents, cur_rules, cur_delay))
    best_spec = -1
    specs: list[int] = []
    for agents, _rules, _d in groups:
        spec = -1
        for a in agents:
            if a == "*":
                spec = max(spec, 0)
            elif a and a in agent_l:
                spec = max(spec, len(a))
        specs.append(spec)
        best_spec = max(best_spec, spec)
    if best_spec < 0:
        return []
    return [
        (rules, delay)
        for spec, (_agents, rules, delay) in zip(specs, groups)
        if spec == best_spec
    ]


def parse_robots_policy(
    text: str, agent: str = "govuk_crawler_worker_spark"
) -> tuple[list[tuple[str, bool]], float | None]:
    """The ordered ``(pattern, allow)`` rules and the ``Crawl-delay`` seconds
    (None when absent) applying to ``agent``, from ONE pass over ``text``.
    The most specific matching user-agent group wins (all groups at that
    specificity combine), falling back to ``*``; when several winning groups
    declare a delay, the LARGEST (most polite) is used.  Deterministic,
    pure."""
    groups = _winning_groups(text, agent)
    rules: list[tuple[str, bool]] = []
    for group_rules, _delay in groups:
        rules.extend(r for r in group_rules if r not in rules)
    delays = [d for _rules, d in groups if d is not None]
    return rules, (max(delays) if delays else None)


def parse_sitemaps(text: str) -> list[str]:
    """``Sitemap:`` URLs — NON-group lines (RFC 9309 §2.2.2): they apply
    regardless of which user-agent group wins, anywhere in the file."""
    out: list[str] = []
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        key, _, val = line.partition(":")  # first ':' only — the URL's own
        u = val.strip()  # '://' survives in val
        if key.strip().lower() == "sitemap" and u and u not in out:
            out.append(u)
    return out


_LOC_RE = _re.compile(r"<loc>\s*(.*?)\s*</loc>", _re.IGNORECASE | _re.DOTALL)
_XML_UNESCAPE = {
    "&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&apos;": "'",
}


def parse_sitemap_locs(xml_text: str) -> list[str]:
    """``<loc>`` values from a sitemap or sitemap-index document (the
    sitemaps.org schema, regex-extracted — the documents are flat and the
    five XML entities are the only escaping ``<loc>`` content may carry)."""
    out: list[str] = []
    for m in _LOC_RE.finditer(xml_text or ""):
        u = m.group(1)
        for ent, ch in _XML_UNESCAPE.items():
            u = u.replace(ent, ch)
        if u and u not in out:
            out.append(u)
    return out


def fetch_sitemap_locs_delta(
    sitemap_urls: DataFrame, opener, headers_for, timeout_s: float
) -> DataFrame:
    """(sm_url) rows → (sm_url, loc, is_xml) rows: one GET per sitemap URL
    inside mapInPandas (executors fetch, one row per ``<loc>`` entry;
    ``is_xml`` marks nested sitemap-index entries for the caller's bounded
    second pass).  Gzip bodies (the sitemaps.org compressed format — the
    dominant real-world deployment, usually ``sitemap.xml.gz``) are
    decompressed before ``<loc>`` extraction, sniffed by the 1f 8b magic so
    a mislabelled URL can't defeat it.  Failed or non-2xx sitemaps yield no
    rows — a sitemap is discovery surface, never correctness surface.  The
    caller MUST eagerly checkpoint the result (side-effecting GETs, the
    page-fetch rule)."""
    import gzip
    import pandas as pd
    from urllib.parse import urlsplit

    def fetch_part(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    host = urlsplit(r.sm_url).netloc.split(":")[0]
                    status, _ct, body, _f = opener(
                        r.sm_url, headers_for(host), timeout_s
                    )
                    if 200 <= status < 300 and body:
                        if body[:2] == b"\x1f\x8b":
                            body = gzip.decompress(body)
                        for loc in parse_sitemap_locs(
                            body.decode("utf-8", "replace")
                        ):
                            low = loc.lower().split("?", 1)[0]
                            rows.append(
                                (r.sm_url, loc, low.endswith((".xml", ".xml.gz")))
                            )
                except Exception:  # noqa: BLE001 — unreachable sitemap = no rows
                    pass
            yield pd.DataFrame(rows, columns=["sm_url", "loc", "is_xml"])

    return sitemap_urls.mapInPandas(
        fetch_part, "sm_url string, loc string, is_xml boolean"
    )


def rule_regex(pattern: str) -> str:
    """RFC 9309 §2.2.3 pattern → anchored Java-compatible regex: ``*``
    matches any character sequence, a trailing ``$`` anchors the end; every
    other character is literal (``re.escape`` emits only punctuation escapes,
    which Java regex accepts identically)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "^" + ".*".join(_re.escape(seg) for seg in body.split("*"))
    return rx + ("$" if anchored else "")


def rules_to_structs(pairs: list[tuple[str, bool]]) -> list[dict]:
    """Parsed (pattern, allow) pairs → storable rule structs: translated
    regex + raw-pattern octet length (the §2.2.2 precedence key — longest
    raw pattern wins, measured in octets of the original value)."""
    return [
        {"rx": rule_regex(p), "n": len(p.encode("utf-8")), "allow": al}
        for p, al in pairs
    ]


def fetch_robots_delta(
    stale_hosts: DataFrame,
    opener,
    headers_for,
    timeout_s: float,
    batch: int,
    agent: str = "govuk_crawler_worker_spark",
) -> DataFrame:
    """(host, scheme) rows → freshly fetched robots rows, one GET per host,
    inside mapInPandas (Arrow batches; executors fetch).  ``fstatus`` is the
    HTTP status (−1 for a transport error); rules are parsed only for 2xx —
    the 4xx-allow-all vs unreachable-carry-forward decision is the CALLER's
    (it needs the previously stored rules; see :func:`live_robots`).  The
    caller MUST eagerly checkpoint the result before reusing it
    (side-effecting GETs must run exactly once, same rule as the page
    fetch)."""
    import pandas as pd

    def fetch_part(it):
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                rules: list[dict] = []
                delay = None
                sitemaps: list[str] = []
                try:
                    status, _ctype, body, _final = opener(
                        f"{row.scheme}://{row.host}/robots.txt",
                        headers_for(row.host),
                        timeout_s,
                    )
                    if 200 <= status < 300 and body:
                        txt = body.decode("utf-8", "replace")
                        pairs, delay = parse_robots_policy(txt, agent)
                        rules = rules_to_structs(pairs)
                        sitemaps = parse_sitemaps(txt)
                except Exception:  # noqa: BLE001 — transport error = unreachable
                    status = -1
                out.append(
                    (
                        row.host, row.scheme, rules, delay, sitemaps, batch,
                        int(status),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "host", "scheme", "rules", "crawl_delay", "sitemaps",
                    "fetched_batch", "fstatus",
                ],
            )

    return stale_hosts.mapInPandas(fetch_part, ROBOTS_FETCH_SCHEMA)


def crawl_delay_budget_col(delay_col, batch: int, batch_period_s: float):
    """Per-batch claim budget from a live ``Crawl-delay``: the
    accumulated-fairness form floor((b+1)·P/d) − floor(b·P/d) — averages to
    exactly P/d fetches per batch, yields 0 on individual batches when
    d > P (a 60 s delay over a 30 s batch period → one fetch every second
    batch), and never starves: over any N batches the host gets
    floor(N·P/d) ± 1 fetches.  Pure arithmetic on the joined delay column —
    no state."""
    p = float(batch_period_s)
    return (
        F.floor(F.lit((batch + 1) * p) / delay_col)
        - F.floor(F.lit(batch * p) / delay_col)
    ).cast("int")


def robots_unreachable_col():
    """RFC 9309 §2.3.1: statuses for which the stored rules must be carried
    forward (server error, redirect — the opener is no-redirect — or
    transport failure).  Definitive 4xx means ALLOW-ALL and is not here."""
    s = F.col("fstatus")
    return (s < 200) | ((s >= 300) & (s < 400)) | (s >= 500)


def robots_blocked_col(rules_col, url_col: str = "url"):
    """Columnar RFC 9309 §2.2.2 verdict: over the host's rules, the rule
    with the MOST raw-pattern octets that matches path[?query] decides;
    an allow/disallow tie goes to allow; no matching rule allows.  NULL
    rules (host absent from the table) block nothing."""
    path0 = F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")), F.lit("/"))
    path = F.when(path0 == "", F.lit("/")).otherwise(path0)
    q = F.parse_url(F.col(url_col), F.lit("QUERY"))
    target = F.concat(
        path,
        F.when(q.isNotNull() & (q != ""), F.concat(F.lit("?"), q)).otherwise(
            F.lit("")
        ),
    )
    rules = F.coalesce(rules_col, F.expr(f"cast(array() as {RULES_TYPE})"))

    def best(want_allow: bool):
        flag = (lambda r: r["allow"]) if want_allow else (lambda r: ~r["allow"])
        matched = F.filter(rules, lambda r: flag(r) & F.regexp_like(target, r["rx"]))
        return F.coalesce(F.array_max(F.transform(matched, lambda r: r["n"])), F.lit(-1))

    return best(False) > best(True)


def robots_bucket_of(df=None):
    """Bucket column of the ``robots`` and ``robots_delays`` tables."""
    return F.pmod(F.xxhash64(F.col("host")), F.lit(ROBOTS_BUCKETS))


@dataclass
class LiveRobots:
    """One batch's live robots.txt rules lookup, commit merge specs and
    sitemap (src, url) candidates; the default is the off state."""

    lookup: DataFrame | None = None
    merges: dict = field(default_factory=dict)
    sitemap_candidates: DataFrame | None = None


def live_robots(
    catalog, claimed: DataFrame, fetcher, b: int, ttl_batches: int, retry_batches: int
) -> LiveRobots:
    """One GET of /robots.txt per claimed host per ``ttl_batches``, executed
    on executors via mapInPandas and committed into the ``robots`` catalog
    table with the batch's atomic commit; the pipeline enforces the returned
    lookup as a columnar host-join on top of the always-applied static
    config rules."""
    fetch_args = (
        fetcher.opener,
        getattr(fetcher, "_headers", lambda h: {}),
        getattr(fetcher, "timeout_s", 10.0),
    )
    # bucket-pruned rules read: only the CLAIMED hosts' robots buckets move
    # (O(claim), not O(hosts-ever-crawled) — the same discipline as the seen
    # reads); bounded bucket-id collect only
    claim_rb = sorted(
        int(r["rb"])
        for r in claimed.select(robots_bucket_of().alias("rb")).distinct().collect()
    )
    robots_tbl = catalog.read_buckets("robots", claim_rb, ROBOTS_SCHEMA)
    stale = (
        claimed.groupBy("host")
        .agg(F.min("url").alias("u0"))
        .select(
            "host",
            F.coalesce(
                F.parse_url(F.col("u0"), F.lit("PROTOCOL")), F.lit("https")
            ).alias("scheme"),
        )
        .join(
            robots_tbl.select("host", F.col("fetched_batch").alias("_fb")),
            "host",
            "left",
        )
        .where(F.col("_fb").isNull() | (F.col("_fb") <= F.lit(b - ttl_batches)))
        .select("host", "scheme")
    )
    # eager: side-effecting GETs run exactly once (the page-fetch rule)
    raw_delta = fetch_robots_delta(stale, *fetch_args, b).localCheckpoint(eager=True)
    fetched_2xx = (F.col("fstatus") >= 200) & (F.col("fstatus") < 300)
    # bounded collect: one row per touched robots bucket (≤ claim's distinct
    # hosts), doubling as the empty-delta check and carrying the
    # did-any-fresh-robots-declare-sitemaps bit (same single job)
    rb_info = (
        raw_delta.select(
            robots_bucket_of().alias("rb"),
            (fetched_2xx & (F.size("sitemaps") > 0)).alias("sm"),
        )
        .groupBy("rb")
        .agg(F.max("sm").alias("sm"))
        .collect()
    )
    rb_buckets = sorted(int(r["rb"]) for r in rb_info)
    if not rb_buckets:
        return LiveRobots(robots_tbl.select("host", "rules", "unreachable"))
    # RFC 9309 §2.3.1: a definitive 4xx is allow-all (absent file), but an
    # UNREACHABLE robots.txt (5xx / redirect / transport error) must not
    # replace known rules with allow-all — carry the host's stored rules
    # forward under the new fetched_batch (retry next TTL); with no stored
    # row, assume complete disallow.
    unreachable = robots_unreachable_col()
    # Unreachable rows are stamped with an EARLIER fetched_batch so the next
    # claim of the host retries the fetch after a short window (ttl/8)
    # instead of serving the carried-forward verdict (complete disallow on
    # first contact!) for a full TTL — RFC 9309 only requires the disallow
    # WHILE unreachable.
    retry_stamp = F.lit(b - ttl_batches + retry_batches).cast("long")
    old = robots_tbl.select(
        "host",
        F.col("rules").alias("_or"),
        F.col("crawl_delay").alias("_od"),
        F.col("sitemaps").alias("_osm"),
        F.col("fetched_batch").alias("_ofb"),
        F.col("unreachable").alias("_ou"),
    )
    has_old = F.col("_ofb").isNotNull()
    carried = unreachable & has_old
    disallow_all = F.expr("array(named_struct('rx', '^/', 'n', 1, 'allow', false))")
    robots_delta = raw_delta.join(old, "host", "left").select(
        "host",
        "scheme",
        F.when(carried, F.col("_or"))
        .when(unreachable, disallow_all)
        .otherwise(F.col("rules"))
        .cast(RULES_TYPE)
        .alias("rules"),
        F.when(carried, F.col("_od"))
        .otherwise(F.col("crawl_delay"))
        .alias("crawl_delay"),
        F.when(carried, F.col("_osm"))
        .otherwise(F.col("sitemaps"))
        .alias("sitemaps"),
        F.when(unreachable, retry_stamp)
        .otherwise(F.col("fetched_batch"))
        .alias("fetched_batch"),
        # True ⟺ the verdict is the ASSUMED disallow-all of an unreachable
        # contact with NO real stored rules behind it (carried-forward real
        # rules keep ordinary-drop semantics; the stored flag rides along so
        # a host first seen unreachable stays retryable until a 2xx/4xx)
        F.when(unreachable, F.coalesce(F.col("_ou"), ~has_old))
        .otherwise(F.lit(False))
        .alias("unreachable"),
    )
    merges = {
        "robots": dict(
            delta=robots_delta,
            key="host",
            bucket_of=robots_bucket_of,
            touched=rb_buckets,
        ),
        # Crawl-delay side table: ONLY hosts declaring a delay live here
        # (tiny at any scale → broadcastable into the claim's politeness
        # window); refreshed hosts that dropped their delay are deleted so
        # the table never over-blocks
        "robots_delays": dict(
            delta=robots_delta.where(F.col("crawl_delay").isNotNull()).select(
                "host", "crawl_delay"
            ),
            deletes=robots_delta.where(F.col("crawl_delay").isNull()).select("host"),
            key="host",
            bucket_of=robots_bucket_of,
            touched=rb_buckets,
        ),
    }
    lookup = (
        robots_tbl.join(robots_delta.select("host"), "host", "left_anti")
        .unionByName(robots_delta)
        .select("host", "rules", "unreachable")
    )
    if not any(bool(r["sm"]) for r in rb_info):
        return LiveRobots(lookup, merges)
    # Sitemap ingestion (r6): sitemaps declared by FRESHLY fetched robots.txt
    # files are GET'd once per robots TTL (executor-side, exactly-once via
    # eager checkpoint — the page-fetch rule), <loc> entries extracted, one
    # bounded nested level (sitemap indexes) followed, and the page URLs fed
    # into THIS batch's publish stage — where the normal host-whitelist /
    # blacklist / param-gate / seen-dedup gates apply, so a TTL refresh
    # re-listing known URLs is anti-joined away for free.
    sm_urls = (
        raw_delta.where(fetched_2xx)
        .select(F.explode("sitemaps").alias("sm_url"))
        .distinct()
    )
    locs = fetch_sitemap_locs_delta(sm_urls, *fetch_args).localCheckpoint(eager=True)
    nested = locs.where(F.col("is_xml")).select(F.col("loc").alias("sm_url")).distinct()
    if nested.count() > 0:  # cheap: locs is checkpointed
        locs = locs.unionByName(
            fetch_sitemap_locs_delta(nested, *fetch_args).localCheckpoint(eager=True)
        )
    sitemap_candidates = locs.where(~F.col("is_xml")).select(
        F.col("sm_url").alias("src"), F.col("loc").alias("url")
    )
    return LiveRobots(lookup, merges, sitemap_candidates)
