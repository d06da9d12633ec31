"""URL canonicalisation: the one home for the messy-URL synthesis and
the canonicaliser, each as a Spark column and as DuckDB SQL.

The testdata has no URL column, so ``raw_url_col`` derives a
deterministically messy crawl URL from ``doc_id`` residues. The
canonical form lowercases it, strips the fragment, the scheme, a
leading ``www.`` and a default port right after the host, drops
``utm_*`` and empty query parameters, sorts the rest and strips
trailing slashes from the path. The batch census
``dedup_url_canonical`` and its stream twin
``streaming_url_dedup_drain`` both call ``canonical_url_col`` on the
engine side and build their oracles on ``URL_CANON_CTE_SQL``, so the
two cannot apply different rules.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def raw_url_col() -> Column:
    """The deterministic messy-URL synthesis rule (shared with the
    oracle SQL below, keep the two in lockstep):

    - scheme: doc_id%3 -> 0 'HTTPS://', 1 'https://', 2 'http://'
    - www:    doc_id%4 -> 0 'WWW.', 1 'www.', else ''
    - host:   'site{doc_id%8}.example', UPPERCASED when doc_id%5=0
    - port:   doc_id%6=0 -> ':443' on https, ':80' on http
    - path:   '/page{doc_id%3}', trailing '/' when doc_id%2=0
    - query:  optional 'utm_source=feed{doc_id%7}&' prefix when
      doc_id%3=0; 'id={doc_id%2}'; 'ref=r{doc_id%2}' BEFORE id when
      doc_id%9=1, AFTER id when doc_id%9=0; trailing
      '&utm_campaign=c{doc_id%3}' when doc_id%7=0
    - fragment: '#sec{doc_id%6}' when doc_id%8=0
    """
    d = F.col("doc_id")
    scheme = (
        F.when(d % 3 == 0, F.lit("HTTPS://"))
        .when(d % 3 == 1, F.lit("https://"))
        .otherwise(F.lit("http://"))
    )
    host = F.concat(F.lit("site"), (d % 8).cast("string"), F.lit(".example"))
    host = F.when(d % 5 == 0, F.upper(host)).otherwise(host)
    www = (
        F.when(d % 4 == 0, F.lit("WWW."))
        .when(d % 4 == 1, F.lit("www."))
        .otherwise(F.lit(""))
    )
    port = F.when(
        d % 6 == 0,
        F.when(d % 3 < 2, F.lit(":443")).otherwise(F.lit(":80")),
    ).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/page"),
        (d % 3).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    utm1 = F.when(
        d % 3 == 0,
        F.concat(F.lit("utm_source=feed"), (d % 7).cast("string"),
                 F.lit("&")),
    ).otherwise(F.lit(""))
    idp = F.concat(F.lit("id="), (d % 2).cast("string"))
    refp = F.concat(F.lit("ref=r"), (d % 2).cast("string"))
    params = (
        F.when(d % 9 == 1, F.concat(refp, F.lit("&"), idp))
        .when(d % 9 == 0, F.concat(idp, F.lit("&"), refp))
        .otherwise(idp)
    )
    utm2 = F.when(
        d % 7 == 0,
        F.concat(F.lit("&utm_campaign=c"), (d % 3).cast("string")),
    ).otherwise(F.lit(""))
    frag = F.when(
        d % 8 == 0, F.concat(F.lit("#sec"), (d % 6).cast("string"))
    ).otherwise(F.lit(""))
    return F.concat(
        scheme, www, host, port, path, F.lit("?"), utm1, params, utm2, frag
    )


# A default port right after the host, for both engines (see
# canonical_url_col on why it is anchored).
URL_PORT_RE = "^([^/:?#]*):(443|80)/"


def canonical_url_col(raw: Column) -> Column:
    low = F.lower(raw)
    nofrag = F.regexp_replace(low, "#.*$", "")
    noscheme = F.regexp_replace(nofrag, "^https?://", "")
    nowww = F.regexp_replace(noscheme, r"^www\.", "")
    # Path always follows the host (the synthesis never emits a bare
    # host), so the default port is always ':443/' / ':80/'. Anchored
    # to the host position: Spark's regexp_replace replaces ALL
    # occurrences while DuckDB's replaces only the FIRST, so an
    # unanchored pattern would let the twin rules diverge on a URL
    # carrying a second ':443/'-looking substring in a query param.
    # '^' can match at most once, making the semantics identical.
    noport = F.regexp_replace(nowww, URL_PORT_RE, "$1/")
    hostpath = F.regexp_replace(
        F.substring_index(noport, "?", 1), "/+$", ""
    )
    qs = F.when(
        F.instr(noport, "?") > 0, F.substring_index(noport, "?", -1)
    ).otherwise(F.lit(""))
    kept = F.sort_array(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "") & ~p.startswith("utm_"),
        )
    )
    return F.concat(
        hostpath,
        F.when(
            F.size(kept) > 0,
            F.concat(F.lit("?"), F.array_join(kept, "&")),
        ).otherwise(F.lit("")),
    )


_RAW_URL_SQL = """
        concat(
            CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://'
                 WHEN doc_id % 3 = 1 THEN 'https://'
                 ELSE 'http://' END,
            CASE WHEN doc_id % 4 = 0 THEN 'WWW.'
                 WHEN doc_id % 4 = 1 THEN 'www.' ELSE '' END,
            CASE WHEN doc_id % 5 = 0
                 THEN upper('site' || (doc_id % 8) || '.example')
                 ELSE 'site' || (doc_id % 8) || '.example' END,
            CASE WHEN doc_id % 6 = 0
                 THEN CASE WHEN doc_id % 3 < 2 THEN ':443' ELSE ':80' END
                 ELSE '' END,
            '/page' || (doc_id % 3),
            CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
            '?',
            CASE WHEN doc_id % 3 = 0
                 THEN 'utm_source=feed' || (doc_id % 7) || '&'
                 ELSE '' END,
            CASE WHEN doc_id % 9 = 1
                 THEN 'ref=r' || (doc_id % 2) || '&id=' || (doc_id % 2)
                 WHEN doc_id % 9 = 0
                 THEN 'id=' || (doc_id % 2) || '&ref=r' || (doc_id % 2)
                 ELSE 'id=' || (doc_id % 2) END,
            CASE WHEN doc_id % 7 = 0
                 THEN '&utm_campaign=c' || (doc_id % 3) ELSE '' END,
            CASE WHEN doc_id % 8 = 0
                 THEN '#sec' || (doc_id % 6) ELSE '' END
        )
"""


# The synthesized messy URL of every document, as u(doc_id, raw_url).
_RAW_URL_CTE = f"""
    u AS (
        SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents
    )"""

# The canonicaliser over any relation u(doc_id, raw_url), ending in
# canon(doc_id, raw_url, canonical_url).
URL_CANON_CTES = f"""
    s1 AS (
        SELECT doc_id, raw_url,
               regexp_replace(regexp_replace(regexp_replace(
                   lower(raw_url), '#.*$', ''), '^https?://', ''),
                   '^www\\.', '') AS s
        FROM u
    ),
    s2 AS (
        SELECT doc_id, raw_url,
               regexp_replace(s, '{URL_PORT_RE}', '\\1/') AS s
        FROM s1
    ),
    s3 AS (
        SELECT doc_id, raw_url,
               regexp_replace(
                   CASE WHEN instr(s, '?') > 0
                        THEN s[1:instr(s, '?') - 1] ELSE s END,
                   '/+$', '') AS hostpath,
               CASE WHEN instr(s, '?') > 0
                    THEN s[instr(s, '?') + 1:] ELSE '' END AS qs
        FROM s2
    ),
    s4 AS (
        SELECT doc_id, raw_url, hostpath,
               list_sort(list_filter(string_split(qs, '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_'))) AS kept
        FROM s3
    ),
    canon AS (
        SELECT doc_id, raw_url,
               hostpath || CASE WHEN len(kept) > 0
                                THEN '?' || array_to_string(kept, '&')
                                ELSE '' END AS canonical_url
        FROM s4
    )
"""

# Both URL oracles (the batch census and its stream twin) read the
# canonical URL of every document from this chain.
URL_CANON_CTE_SQL = f"{_RAW_URL_CTE},{URL_CANON_CTES}"
