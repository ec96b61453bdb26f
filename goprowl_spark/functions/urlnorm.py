"""URL canonicalization.

Reference behavior being rebuilt: colly's ``e.Request.AbsoluteURL(link)``
(search/crawlers/colly.go:86) + ``url.Parse`` validity check
(colly.go:164-171) + host extraction (colly.go:174). The reference's
TODO.md:44 marks URL canonicalization done inside colly; we make the rules
explicit: resolve relative hrefs against the page URL, lowercase
scheme/host, strip fragments, strip default ports, normalize empty paths,
reject non-http(s) and unparseable URLs (→ null, filtered upstream).

``canonicalize`` runs inside the parse stage's Arrow pass (one Python batch
per Arrow chunk, never per-row Spark UDFs — BASELINE.json:input_hint).
Hosts are extracted JVM-side with ``parse_url`` wherever the crawl needs
them.
"""

from __future__ import annotations

import re as _re
from urllib.parse import urljoin, urlsplit, urlunsplit

_DEFAULT_PORTS = {"http": 80, "https": 443}

# Fast path for the overwhelmingly common crawl cases: absolute http(s)
# hrefs with a plain hostname (optionally an explicit port and uppercase
# scheme/host — normalized here exactly as the slow path would), and
# root-relative paths against a canonical base. urllib's
# urljoin/urlsplit/urlunsplit cost ~85 µs per call and were measured at
# ~50% of the whole fetch+parse CPU (guide §4.2: make the per-batch Python
# do less work per row). The charset-restricted regexes only accept inputs
# whose canonicalization the short-circuit code below reproduces exactly
# (no query/fragment/userinfo/IPv6, no empty or dot path segments, printable
# ASCII, no urljoin params-';' quirks); everything else falls through to
# the original urllib implementation. Equivalence is fuzz-pinned in
# tests/test_urlnorm.py.
_FAST_NETLOC_RE = _re.compile(
    r"\A([a-z0-9](?:[a-z0-9.-]*[a-z0-9])?)(?::(\d{1,5}))?\Z"
)
_FAST_PATH_RE = _re.compile(r"\A(?:/[A-Za-z0-9._~%!$&'()*+,;=:@-]+)+/?\Z")
_FAST_BASE_RE = _re.compile(
    r"\A(https?://[a-z0-9](?:[a-z0-9.-]*[a-z0-9])?)(?:/|\Z)"
)
_DOT_SEG_RE = _re.compile(r"/\.{1,2}(?:/|\Z)")


def _canonicalize_fast(href: str, base: str | None) -> str | None:
    """Canonical form when decidable cheaply; None = defer to slow path."""
    if "#" in href:
        href = href[: href.index("#")]
        if not href:
            # bare-fragment href resolves to the base itself
            if not base:
                return None
            href = base
    if base and ";" in href:
        # with a base, every href resolves through urljoin → urlparse,
        # whose params split treats ';' in the last segment specially
        return None
    if href.startswith("/") and not href.startswith("//"):
        if not base:
            return None
        m = _FAST_BASE_RE.match(base)
        if m is None:
            return None
        href = m.group(1) + href
    i = href.find("://")
    if i < 0:
        return None
    scheme = href[:i].lower()
    if scheme not in _DEFAULT_PORTS:
        return None
    rest = href[i + 3 :]
    j = rest.find("/")
    netloc, path = (rest, "") if j < 0 else (rest[:j].lower(), rest[j:])
    if j < 0:
        netloc = netloc.lower()
    m = _FAST_NETLOC_RE.match(netloc)
    if m is None:
        return None
    host, port = m.group(1), m.group(2)
    if port is not None:
        p = int(port)
        if p > 65535:
            return None
        if p != _DEFAULT_PORTS[scheme]:
            host = f"{host}:{p}"
    if not path:
        return f"{scheme}://{host}/"
    if _FAST_PATH_RE.match(path) is None or _DOT_SEG_RE.search(path):
        return None
    return f"{scheme}://{host}{path}"


def canonicalize(href: str | None, base: str | None = None) -> str | None:
    """Canonical absolute form of ``href`` resolved against ``base``.

    Returns None for unparseable / non-http(s) URLs (reference: invalid-URL
    error path colly.go:164-171 → the row is dropped by a notNull filter).
    """
    if href is None or href == "":
        return None
    fast = _canonicalize_fast(href, base)
    if fast is not None:
        return fast
    try:
        raw = urljoin(base, href) if base else href
        parts = urlsplit(raw)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in _DEFAULT_PORTS:
        return None
    hostname = (parts.hostname or "").lower()
    if not hostname:
        return None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = hostname
    if port is not None and port != _DEFAULT_PORTS[scheme]:
        netloc = f"{hostname}:{port}"
    path = parts.path or "/"
    # collapse duplicate slashes; resolve . and .. segments
    segs: list[str] = []
    for seg in path.split("/"):
        if seg == "" or seg == ".":
            continue
        if seg == "..":
            if segs:
                segs.pop()
            continue
        segs.append(seg)
    norm_path = "/" + "/".join(segs)
    if path.endswith("/") and norm_path != "/":
        norm_path += "/"
    return urlunsplit((scheme, netloc, norm_path, parts.query, ""))

