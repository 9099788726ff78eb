"""URL column functions — pure Catalyst expressions, no UDFs.

The reference normalizes and filters URLs row-at-a-time in Python
(WikipediaCrawler/parser/app/main.py:16-40) and sanitizes filenames with a
Python regex UDF (ETL/tasks/utils.py:4-11, fetcher/app/main.py:46-47). All of
it is regular string algebra, so here every function is a native column
expression: JVM-side, codegen'd, usable in pushable filters — the UDF is
eliminated (SURVEY.md §2.8 policy).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def url_host(url: Column) -> Column:
    """Lowercased host part. Parity: ``urlparse(url).netloc.lower()``
    (parser/app/main.py:24,27)."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def url_path(url: Column) -> Column:
    """Path with any trailing '/' removed. Parity: ``path.rstrip('/')``
    (parser/app/main.py:28)."""
    return F.regexp_replace(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")), "/+$", "")


def normalize_url(url: Column) -> Column:
    """Canonical URL: lowercase scheme+host, trailing-slash-free path, query/
    params/fragment dropped. Parity: parser/app/main.py:26-35 (urlunparse with
    empty params/query/fragment)."""
    scheme = F.lower(F.coalesce(F.parse_url(url, F.lit("PROTOCOL")), F.lit("https")))
    return F.concat(scheme, F.lit("://"), url_host(url), url_path(url))


def is_domain(url: Column, suffix: str = "en.wikipedia.org") -> Column:
    """Domain admission predicate. Parity: ``netloc.endswith("en.wikipedia.org")``
    (parser/app/main.py:24)."""
    return url_host(url).endswith(suffix)


def sanitize_filename(path: Column) -> Column:
    """File-safe name from a path: basename after the last '/', all chars
    outside [a-zA-Z0-9._-] replaced by '_', trailing '.html' stripped.

    Parity: ETL/tasks/utils.py:4-11 (used at categorizer.py:126,133 and
    converter.py:50,55) — the reference's Python UDF rewritten as native
    expressions, with one divergence: the reference's
    ``.replace('.html', '')`` removes EVERY '.html' in the name, while this
    strips only a trailing one ('a.html.bak' stays 'a.html.bak' here, the
    reference gives 'a.bak'). Names without an interior '.html' match
    byte for byte. r12 (guide §4 — per-row regex is the floor, so run less
    of it): 2 of the 3 regexes replaced by cheap substring builtins,
    exactly equivalent on ANY input:
    - ``regexp_extract(path, '([^/]*)$', 1)`` ≡ ``substring_index(path,
      '/', -1)`` — the first match of an end-anchored no-slash run is
      everything after the last '/' (the whole string when there is no
      '/', '' on a trailing '/'; both return NULL on NULL);
    - ``regexp_replace(safe, '\\.html$', '')`` ≡ strip-if-endswith —
      equivalent here because ``safe`` is post-character-class-replace and
      so contains no line terminators (Java's $ would otherwise also match
      before a trailing newline).
    Only the character-class replace remains a regex."""
    base = F.substring_index(path, "/", -1)
    safe = F.regexp_replace(base, r"[^a-zA-Z0-9._-]", "_")
    return F.when(
        safe.endswith(".html"), safe.substr(F.lit(1), F.length(safe) - 5)
    ).otherwise(safe)


def url_to_filename(url: Column) -> Column:
    """Fetcher-variant sanitize: strip the scheme, then map every char in
    ``[:/?&=]`` (and other unsafe chars) to '_'. Parity:
    fetcher/app/main.py:46-47."""
    no_scheme = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    return F.regexp_replace(no_scheme, r"[^a-zA-Z0-9._-]", "_")
