"""URL canonicalization + keep-best-per-URL dedup (r11).

The production layer CommonCrawl-shape corpus pipelines run BEFORE
every content-dedup tier (exact q40 → normalized q144 → fuzzy q113 →
span q177): the same page is crawled under syntactically different
URLs — case-varied scheme/host, explicit default ports, fragments,
tracking parameters, shuffled query-parameter order, trailing
slashes — and collapsing those BY URL is orders of magnitude cheaper
than letting the content tiers discover the duplication, because it
needs no text at all: one string expression per row plus one window
over the canonical key.

Everything here is pure JVM-side string/array expressions
(``pyspark.sql.functions`` regex + higher-order functions) — no UDFs,
no shuffle for canonicalization itself, fully SQL-expressible (the
DuckDB oracle replays the identical rules, q179). At 100 TB the
canonical column is computed in the scan's projection (whole-stage
codegen) and the only shuffle is the keeper window's hash partition
on the canonical key — the same cost profile as exact_dedup.

Canonical form (the RFC 3986 §6 normalizations that are safe without
fetching, plus the tracking-param scrub every crawl pipeline adds):

- scheme and host lowercased (path/query case is significant — left);
- default port stripped (``:80`` for http, ``:443`` for https);
- fragment removed (never sent to the server);
- percent-encodings normalized in the path and query (RFC 3986
  §6.2.2.1–2, added r12 — ADVICE r11): hex digits uppercased
  (``%2f`` → ``%2F``) and UNRESERVED octets decoded (``%7E`` → ``~``,
  ``%41`` → ``A``); reserved octets stay encoded, so structure
  characters never appear un-escaped and param splitting is
  unaffected. Host percent-encoding is out of scope (IDN/punycode
  territory; crawl URLs don't carry it) — see :func:`pct_normalize`;
- tracking parameters removed: any ``utm_*`` plus the well-known
  click-identifier set (fbclid, gclid, msclkid, yclid, igshid,
  mc_eid, _ga) — extend via ``extra_tracking``;
- remaining query parameters sorted lexicographically (crawlers see
  permuted orders; sorting makes order-insensitive equality exact —
  the rare order-SENSITIVE endpoint is the documented trade);
- trailing slashes stripped from the path, empty path becomes ``/``
  (``http://h``, ``http://h/`` and ``http://h///`` all canonicalize
  to ``http://h/``);
- empty query (or one emptied by the scrub) drops its ``?``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .reliability import materialize

# Exact-name click identifiers scrubbed alongside the utm_* prefix
# family. Keep in sync with the q179 oracle's regex.
TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "yclid", "igshid", "mc_eid", "_ga")

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def _tracking_regex(extra: tuple[str, ...] = ()) -> str:
    # Param NAMES are literals, not patterns: escape regex
    # metacharacters so an extra_tracking name like "a.b" or "s|id"
    # cannot widen or split the alternation. Only [A-Za-z0-9_] pass
    # through bare, which leaves the default list byte-identical to
    # the q179 oracle's regex; the backslash-escape form is valid in
    # both Java regex (Spark rlike) and RE2 (DuckDB).
    import re as _re

    names = "|".join(
        _re.sub(r"([^A-Za-z0-9_])", r"\\\1", n) for n in TRACKING_PARAMS + tuple(extra)
    )
    return rf"^(utm_[^=]*|{names})(=.*)?$"


# RFC 3986 §2.3 unreserved characters, keyed by their UPPERCASE hex
# octet — the single source of truth for percent-encoding
# normalization: the Spark expression (pct_normalize) and the DuckDB
# oracle SQL (sql_pct_normalize) are both generated from this dict,
# the html.py rule-table discipline, so the engines cannot drift.
UNRESERVED_BY_HEX: dict[str, str] = {
    f"{ord(c):02X}": c
    for c in (
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
        "0123456789-._~"
    )
}

_HEX2 = r"^[0-9A-Fa-f]{2}"


def pct_normalize(col):
    """RFC 3986 §6.2.2.1–2 percent-encoding normalization as pure JVM
    expressions (r12 — ADVICE r11): hex digits of every escape
    uppercased, escapes of UNRESERVED octets decoded to the character
    itself. Both are lossless (the spec's 'safe without fetching'
    set); reserved octets (``%2F``, ``%3D``, ``%26`` …) stay encoded,
    so no structural character is ever un-escaped by this pass.

    Mechanics: split on ``%`` — every fragment after the first begins
    where an escape started. A fragment opening with two hex digits
    either decodes (unreserved, via a literal map generated from
    UNRESERVED_BY_HEX) or re-emits ``%`` + uppercased hex; a fragment
    NOT opening with two hex digits is a stray literal ``%``
    (technically invalid URL syntax) and passes through unchanged with
    its ``%`` restored. split / transform / concat HOFs only — same
    scan-time projection discipline as the rest of the module."""
    dec_map = F.create_map(
        *[F.lit(x) for hx in sorted(UNRESERVED_BY_HEX) for x in (hx, UNRESERVED_BY_HEX[hx])]
    )

    def frag(x):
        hx = F.upper(F.substring(x, 1, 2))
        rest = F.substring(x, 3, 1 << 30)
        decoded = F.element_at(dec_map, hx)
        return (
            F.when(x.rlike(_HEX2) & decoded.isNotNull(), F.concat(decoded, rest))
            .when(x.rlike(_HEX2), F.concat(F.lit("%"), hx, rest))
            .otherwise(F.concat(F.lit("%"), x))
        )

    parts = F.split(col, "%", -1)
    tail = F.slice(parts, 2, F.greatest(F.lit(0), F.size(parts) - 1))
    return F.concat(
        F.element_at(parts, 1), F.array_join(F.transform(tail, frag), "")
    )


def sql_pct_normalize(expr: str) -> str:
    """DuckDB expression replaying :func:`pct_normalize` rule-for-rule
    — generated from the same UNRESERVED_BY_HEX table (the q179
    oracle's percent-encoding steps; the html.py generated-oracle
    discipline)."""
    whens = " ".join(
        f"WHEN '{hx}' THEN '{UNRESERVED_BY_HEX[hx]}' || x[3:]"
        for hx in sorted(UNRESERVED_BY_HEX)
    )
    frag = (
        "CASE WHEN regexp_matches(x, '^[0-9A-Fa-f]{2}') THEN "
        f"coalesce(CASE upper(x[1:2]) {whens} END, "
        "'%' || upper(x[1:2]) || x[3:]) "
        "ELSE '%' || x END"
    )
    # coalesce: DuckDB's array_to_string([]) is NULL, not '' — a
    # %-free string would otherwise null out the whole concatenation.
    return (
        f"(string_split({expr}, '%')[1] || coalesce(array_to_string("
        f"list_transform(string_split({expr}, '%')[2:], x -> {frag}), ''), ''))"
    )


def canonicalize_url(url, extra_tracking: tuple[str, ...] = ()):
    """Column expression computing the canonical form of ``url``.

    Pure built-in expressions (regexp_extract / filter / array_sort /
    array_join) so the whole computation stays inside whole-stage
    codegen — this is a per-row projection, usable in a scan without
    any shuffle. Inputs without a ``scheme://`` prefix pass through
    trimmed-and-defragmented only (canonicalizing a relative URL
    needs a base URL this operator does not have).
    """
    u = F.regexp_replace(F.trim(url), "#.*", "")  # fragment never reaches the server
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    auth = F.lower(F.regexp_extract(u, _AUTH_RE, 1))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    path = pct_normalize(F.regexp_extract(u, _PATH_RE, 1))
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qraw = pct_normalize(F.regexp_extract(u, _QUERY_RE, 1))
    track = _tracking_regex(extra_tracking)
    params = F.filter(
        F.split(qraw, "&"),
        lambda p: (p != "") & ~p.rlike(track),
    )
    qs = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", u).otherwise(canon)


def url_keeper_dedup(
    df: DataFrame,
    url_col: str,
    id_col: str,
    quality_col: str,
    extra_tracking: tuple[str, ...] = (),
    canon_out: str = "canon_url",
) -> DataFrame:
    """Keep the best row per CANONICAL URL: canonicalize ``url_col``
    per row (projection, no shuffle), then one (quality desc, id)
    row_number window over the canonical key — q176's keeper rule,
    but keyed directly by the canonical string, so no edge generation
    and no connected components: URL identity is an equivalence
    relation for free, unlike near-dup similarity.

    Returns the kept rows (all input columns) plus ``canon_out``.
    One shuffle total, hash-partitioned on the canonical key. Skew
    note for 100 TB: a canonical URL repeated pathologically often
    (a crawler trap) concentrates one key; the window stays correct —
    cap it with the standard two-phase trick (per-partition top-1
    via a partial aggregate, then global) only if a profile shows a
    single hot URL dominating a partition, which AQE skew handling
    already splits in practice.
    """
    canon = canonicalize_url(F.col(url_col), extra_tracking)
    with_canon = df.withColumn(canon_out, canon)
    w = Window.partitionBy(canon_out).orderBy(F.col(quality_col).desc(), F.col(id_col))
    return (
        with_canon.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------ discovery layer

# XML character entities, decoded in sitemap <loc> values (&amp; LAST —
# the html.py ordering rule: "&amp;lt;" is the literal text "&lt;").
_XML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def _xml_text(entry, tag: str):
    """Trimmed, entity-decoded text of the FIRST <tag> element inside
    an entry fragment ('' when absent). Pure regexp projection."""
    val = F.regexp_extract(entry, rf"(?is)<{tag}\b[^>]*>\s*(.*?)\s*</{tag}>", 1)
    for ent, ch in _XML_ENTITIES:
        val = F.regexp_replace(val, ent, ch)
    return val


def parse_sitemap(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """Parse sitemap XML (sitemaps.org 0.9) into one row per entry —
    the DISCOVERY side of the crawl ladder (robots.txt's ``Sitemap:``
    lines point here; the produced locs feed q179's canonicalization
    and the frontier). Handles BOTH document kinds in one pass:
    ``<urlset>`` page entries (kind ``url``: loc, lastmod, changefreq,
    priority) and ``<sitemapindex>`` child references (kind
    ``sitemap``: loc, lastmod). Columns other than ``xml_col`` pass
    through unchanged (the parse_warc r12 rule), so a (host, xml)
    frame keeps its host beside each exploded entry.

    Same engine-portable discipline as operators/html.py: the parse is
    a regexp_extract_all + transform projection (tags matched with
    attributes tolerated, values trimmed, the five XML character
    entities decoded ``&amp;`` last) — namespace declarations are
    ATTRIBUTES under this grammar and ignored, which is exactly right
    for the sitemap namespace. At 100 TB sitemap files are a rounding
    error next to the crawl; what matters is that this runs in the
    same scan-time-projection tier as the rest of the layer — one
    explode per document, no UDF, no shuffle beyond the explode's
    narrow pass, and the q188 oracle replays the grammar closed-form.
    """
    xml = F.col(xml_col)
    passthrough = [F.col(c) for c in df.columns if c != xml_col]

    def entries(tag: str, kind: str):
        frags = F.regexp_extract_all(
            xml, F.lit(rf"(?is)<{tag}\b[^>]*>(.*?)</{tag}>"), F.lit(1)
        )
        return F.transform(
            frags,
            lambda e: F.struct(
                F.lit(kind).alias("kind"),
                _xml_text(e, "loc").alias("loc"),
                _xml_text(e, "lastmod").alias("lastmod"),
                _xml_text(e, "changefreq").alias("changefreq"),
                # try_cast: real-world priority values are not always
                # numeric, and under ANSI mode a plain cast would fail
                # the whole scan on one malformed element.
                F.nullif(_xml_text(e, "priority"), F.lit("")).try_cast("double").alias(
                    "priority"
                ),
            ),
        )

    both = F.concat(entries("url", "url"), entries("sitemap", "sitemap"))
    return (
        df.select(*passthrough, F.explode(both).alias("__e"))
        .select(
            *passthrough,
            F.col("__e.kind").alias("kind"),
            F.col("__e.loc").alias("loc"),
            F.col("__e.lastmod").alias("lastmod"),
            F.col("__e.changefreq").alias("changefreq"),
            F.col("__e.priority").alias("priority"),
        )
        .filter(F.col("loc") != "")
    )


def read_sitemap_files(spark, path: str) -> DataFrame:
    """Read sitemap files (plain ``.xml`` or gzipped ``.xml.gz`` — the
    spec's 50k-entry/50 MB caps make gzip universal at crawl scale)
    into ``(file, xml)`` rows: one row per file, decompression handled
    TRANSPARENTLY by the text source's codec dispatch on the file
    extension (no UDF, no driver-side unzip — a .gz file is one
    non-splittable task, which matches the spec's size cap). The
    ``file`` column is the source path (``input_file_name``) so the
    caller can map files back to the URLs they were fetched from
    before joining into :func:`sitemap_frontier`. r13 — VERDICT r12
    item 4 (gzip half)."""
    return spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), F.col("value").alias("xml")
    )


def sitemap_frontier(
    fetched: DataFrame,
    seeds: DataFrame,
    url_col: str = "sitemap_url",
    fetched_url_col: str = "url",
    xml_col: str = "xml",
    max_depth: int = 3,
) -> DataFrame:
    """Bounded-depth sitemap frontier walk (r13 — VERDICT r12 item 4):
    resolve a seed set of sitemap URLs (e.g. :func:`robots_sitemaps`
    output) against a table of FETCHED sitemap contents, following
    ``<sitemapindex>`` child references level by level until no new
    children appear or ``max_depth`` levels have been walked, and
    return every ``<url>`` page entry discovered with the level it was
    found at.

    ``fetched`` holds ``(fetched_url_col, xml_col)`` — the fetch step
    itself is outside the engine (no network in a Spark job); pair
    with :func:`read_sitemap_files` for on-disk ``.xml(.gz)`` corpora.
    ``fetched`` is expected UNIQUE on the url column (a fetch table is
    keyed by what was fetched); duplicate url rows would parse each
    copy and duplicate its page entries — ``dropDuplicates([url])``
    a re-crawled corpus first. Seeds that were never fetched simply
    resolve to nothing, and a child loc is visited at most ONCE
    (cycles and shared children are dedup-guarded by an anti-join
    against the visited set).

    Scale shape — the pagerank_int driver-loop pattern
    (operators/graph.py:40): the DRIVER iterates plans, never data.
    Each level is one semi-join of the fetched table against the
    frontier (both sitemap-URL-sized — bounded by the spec's 50k
    children per index, never corpus-sized), one parse_sitemap
    projection, and one anti-join for the visited set; frontier and
    visited are materialized per level so the lineage stays
    shallow and the per-level isEmpty probe is a bounded action. Page
    entries accumulate as a UNION of per-level frames — at most
    ``max_depth`` branches, each output-proportional.

    The per-level frontier/visited truncations share the
    iterative-loop fault envelope priced in operators/reliability.py —
    job-fatal on executor loss under the default ``"local"`` regime;
    set ``"replicated"``/``"reliable"`` for long walks on a real
    cluster (both frames are URL-sized)."""
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    clash = {"kind", "loc", "lastmod", "changefreq", "priority", "depth"} & {
        fetched_url_col,
        xml_col,
    }
    if clash:
        raise ValueError(f"fetched column names collide with output: {sorted(clash)}")
    frontier = materialize(
        seeds.select(F.trim(F.col(url_col)).alias(fetched_url_col))
        .filter(F.col(fetched_url_col) != "")
        .distinct()
    )
    visited = frontier
    pages = None
    for depth in range(max_depth):
        if frontier.isEmpty():
            break
        level_docs = fetched.select(fetched_url_col, xml_col).join(
            frontier, fetched_url_col, "leftsemi"
        )
        parsed = parse_sitemap(level_docs, xml_col)
        level_pages = parsed.filter(F.col("kind") == "url").select(
            F.col(fetched_url_col).alias("source_sitemap"),
            "loc",
            "lastmod",
            "changefreq",
            "priority",
            F.lit(depth).alias("depth"),
        )
        pages = level_pages if pages is None else pages.unionByName(level_pages)
        if depth + 1 >= max_depth:
            break  # final level: the next frontier would never be walked
        children = (
            parsed.filter(F.col("kind") == "sitemap")
            .select(F.col("loc").alias(fetched_url_col))
            .distinct()
        )
        frontier = materialize(children.join(visited, fetched_url_col, "left_anti"))
        visited = materialize(visited.unionByName(frontier))
    if pages is None:  # empty seed set: empty frame, same schema
        return fetched.sparkSession.createDataFrame(
            [],
            "source_sitemap string, loc string, lastmod string, "
            "changefreq string, priority double, depth int",
        )
    return pages


# ------------------------------------------------------- domain layer

# Well-known two-level public suffixes for the registered-domain
# heuristic. Deliberately a SHORT list (the full Mozilla public-suffix
# list is ~9k rules and changes monthly — registered_domain_psl takes
# it as a broadcast rule table when exactness matters); keep in sync
# with the q181 oracle.
TWO_LEVEL_SUFFIXES = ("co.uk", "com.au", "co.jp", "com.br", "co.in")


def url_host(url):
    """Lowercased host of ``url``, port stripped — the domain layer's
    input column. Same pure-expression discipline as canonicalize_url
    (extraction is a scan-time projection). Userinfo (user@host) is
    not handled — crawl URLs do not carry it."""
    auth = F.lower(F.regexp_extract(F.trim(url), _AUTH_RE, 1))
    return F.regexp_replace(auth, ":[0-9]+$", "")


def registered_domain(url, two_level_suffixes: tuple[str, ...] = TWO_LEVEL_SUFFIXES):
    """Registered (pay-level) domain of ``url``'s host: the last two
    host labels, or the last THREE when the last two form a known
    two-level public suffix (``a.b.co.uk`` → ``b.co.uk``) — the key
    crawl pipelines group, cap, and blocklist by. A documented
    HEURISTIC approximation of the public-suffix list (see
    TWO_LEVEL_SUFFIXES); exact PSL matching is the broadcast-join
    swap :func:`registered_domain_psl`, whose output column drops into
    every downstream operator unchanged. Hosts with fewer
    labels than the rule asks for pass through whole — the explicit
    size guards matter because Spark's negative-start slice returns
    EMPTY past the array start where DuckDB's returns the whole list
    (single-label hosts like ``localhost`` are pinned by pytest)."""
    parts = F.split(url_host(url), r"\.")
    last2 = F.array_join(F.slice(parts, -2, 2), ".")
    last3 = F.array_join(F.slice(parts, -3, 3), ".")
    return (
        F.when(F.size(parts) < 2, F.array_join(parts, "."))
        .when((F.size(parts) >= 3) & last2.isin(list(two_level_suffixes)), last3)
        .otherwise(last2)
    )


def registered_domain_psl(
    df: DataFrame,
    url_col: str,
    id_col: str,
    psl: DataFrame,
    domain_out: str = "domain",
    check_unique: bool = True,
) -> DataFrame:
    """EXACT public-suffix-list registered domain — the broadcast-join
    swap :func:`registered_domain`'s docstring promises (made callable
    r11, the ivf_append/pq_append pattern: a documented discipline must
    have a callable). ``psl`` is one ``rule`` string column holding
    publicsuffix.org rules verbatim; all three rule forms are honored:

    - literal (``co.uk``): the suffix is the rule itself;
    - wildcard (``*.ck``): ``*`` consumes exactly one host label;
    - exception (``!www.ck``): overrides a matching wildcard — the
      public suffix is the exception rule MINUS its first label.

    Resolution is the published algorithm: among matching rules an
    exception wins outright, else the longest match (in labels) wins,
    else the default rule ``*`` applies (public suffix = last label).
    The registered domain is the public suffix plus one more label;
    hosts that ARE a bare public suffix (or a single label) pass
    through whole — same convention as the heuristic, so the two are
    drop-in interchangeable and every downstream operator
    (domain_blocklist_filter / domain_cap, which REUSE an existing
    ``domain_out`` column) is untouched by the swap.

    ``id_col`` must be UNIQUE per row — candidate matches rejoin by
    it, and rows sharing an id would merge their rule matches (one
    row's longer suffix inflating another's) and fan out under the
    rejoin. ``check_unique`` (default on) probes for a duplicate with
    a limit-1 aggregate over the id column alone and raises
    ValueError; disable it only when uniqueness is guaranteed by
    construction (a primary key) — the heuristic
    :func:`registered_domain` needs no id at all, so this precondition
    is the one behavioral difference between the two forms.

    Plan shape: each host explodes into its ≤ n label-suffix
    candidates, whole host included — a rule matching the ENTIRE host
    (any form, e.g. ``*.kawasaki.jp`` or a bare ``s3.amazonaws.com``
    suffix) must participate in resolution (literal + wildcard
    spelling — tens of short strings per row, not data-proportional
    state), broadcast-joins the PSL (~9k rules — KBs), and one integer
    aggregate keyed by ``id_col`` picks the winning rule; the domain
    is then a projection over the host's own labels. At 100 TB: one
    broadcast, one shuffle of (id, small ints) — no text beyond the
    candidate suffixes ever moves, and rows with no PSL match skip the
    aggregate entirely via the left join.
    """
    if check_unique:
        dup = (
            df.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"registered_domain_psl: id_col {id_col!r} is not unique "
                f"(e.g. {dup[0][id_col]!r} appears {dup[0]['__c']}×) — rows "
                "sharing an id would merge their rule matches and fan out "
                "under the rejoin. De-duplicate or pass a surrogate key; "
                "set check_unique=False only when uniqueness is guaranteed "
                "by construction."
            )
    rules = psl.select(
        F.when(
            F.col("rule").startswith("!"), F.expr("substring(rule, 2)")
        ).otherwise(F.col("rule")).alias("__rule"),
        F.col("rule").startswith("!").alias("__exc"),
    )
    base = df.withColumn("__host", url_host(F.col(url_col))).withColumn(
        "__parts", F.split(F.col("__host"), r"\.")
    )
    n = F.size(F.col("__parts"))
    # Candidate suffixes: for each length L in [1, n] — the WHOLE host
    # included, since a rule can match it (exception rules usually do,
    # and a host may BE a listed suffix) — the literal last-L-labels
    # spelling and (L ≥ 2) the wildcard spelling with the candidate's
    # FIRST label replaced by '*'.
    lit_c = F.array_join(F.slice(F.col("__parts"), -F.col("__L"), F.col("__L")), ".")
    wc_c = F.when(
        F.col("__L") >= 2,
        F.concat(
            F.lit("*."),
            F.array_join(
                F.slice(F.col("__parts"), -(F.col("__L") - 1), F.col("__L") - 1), "."
            ),
        ),
    )
    cands = (
        base.select(F.col(id_col).alias("__id"), "__parts")
        .select(
            "__id",
            "__parts",
            F.explode(F.sequence(F.lit(1), n)).alias("__L"),
        )
        .select("__id", "__L", F.explode(F.array(lit_c, wc_c)).alias("__cand"))
        .filter(F.col("__cand").isNotNull())  # L=1 has no wildcard spelling
    )
    matched = cands.join(
        F.broadcast(rules), F.col("__cand") == F.col("__rule")
    ).groupBy("__id").agg(
        # Exception rule wins outright: its public suffix is the rule
        # minus one label (__L - 1); otherwise the longest match.
        F.max(F.when(F.col("__exc"), F.col("__L") - 1)).alias("__exc_len"),
        F.max(F.when(~F.col("__exc"), F.col("__L"))).alias("__lit_len"),
    )
    ps_len = F.coalesce(F.col("__exc_len"), F.col("__lit_len"), F.lit(1))
    reg_len = ps_len + 1
    out = base.join(matched, base[id_col] == F.col("__id"), "left").withColumn(
        domain_out,
        F.when(n <= reg_len - 1, F.col("__host")).otherwise(
            F.array_join(F.slice(F.col("__parts"), -reg_len, reg_len), ".")
        ),
    )
    return out.drop("__id", "__exc_len", "__lit_len", "__host", "__parts")


def domain_blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocked_domains: DataFrame,
    domain_out: str = "domain",
) -> DataFrame:
    """Drop rows whose REGISTERED domain appears in ``blocked_domains``
    (one ``domain`` string column — spam/SEO/adult blocklists are a
    standard crawl-pipeline input). The domain is computed as a
    projection and the check is a broadcast LEFT ANTI join — blocklists
    are small by nature (thousands to low millions of domains), so the
    corpus never shuffles. Subdomains are blocked with their parent by
    construction (cdn.evil.com → evil.com). Returns the surviving rows
    plus ``domain_out``.

    An existing ``domain_out`` column is REUSED, not overwritten (the
    domain_cap rule): a caller-derived domain — e.g. the exact-PSL
    form from :func:`registered_domain_psl` — is matched against the
    blocklist as-is instead of being silently replaced by the
    heuristic."""
    if domain_out in df.columns:
        with_dom = df
    else:
        with_dom = df.withColumn(domain_out, registered_domain(F.col(url_col)))
    return with_dom.join(
        F.broadcast(blocked_domains.select(F.col("domain").alias(domain_out))),
        domain_out,
        "left_anti",
    )


def domain_cap(
    df: DataFrame,
    url_col: str,
    id_col: str,
    quality_col: str,
    cap: int,
    domain_out: str = "domain",
) -> DataFrame:
    """Keep at most ``cap`` docs per REGISTERED domain, best quality
    first (tie → min id) — q89's per-source cap applied to the domain
    the pipeline derives rather than a source column it was handed.
    One (quality desc, id) row_number window hash-partitioned on the
    domain; a crawler-trap domain with millions of pages concentrates
    one key exactly like q89's hot source, and the same AQE/two-phase
    notes apply. Returns surviving rows plus ``domain_out``.

    An existing ``domain_out`` column is REUSED, not overwritten — the
    documented blocklist-then-cap composition evaluates the host/domain
    regex chain once, and a caller-derived domain (e.g. exact PSL via
    the broadcast-join swap) caps by the caller's key."""
    if domain_out in df.columns:
        with_dom = df
    else:
        with_dom = df.withColumn(domain_out, registered_domain(F.col(url_col)))
    w = Window.partitionBy(domain_out).orderBy(F.col(quality_col).desc(), F.col(id_col))
    return (
        with_dom.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )
