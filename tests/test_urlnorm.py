"""URL canonicalizer unit tests (F4/F5; reference: colly's AbsoluteURL
colly.go:86 + url.Parse validity colly.go:164-171)."""

import pytest

from goprowl_spark.functions.urlnorm import canonicalize

BASE = "https://h3.test/p/42"


@pytest.mark.parametrize(
    "href,expected",
    [
        ("https://h1.test/p/7", "https://h1.test/p/7"),
        ("/p/7", "https://h3.test/p/7"),               # root-relative
        ("x/y", "https://h3.test/p/x/y"),              # relative
        ("https://h1.test/p/7#frag", "https://h1.test/p/7"),   # fragment
        ("https://h1.test:443/p/7", "https://h1.test/p/7"),    # default port
        ("http://h1.test:80/p/7", "http://h1.test/p/7"),
        ("http://h1.test:8080/p/7", "http://h1.test:8080/p/7"),  # kept
        ("HTTPS://H1.TEST/p/7", "https://h1.test/p/7"),  # case
        ("https://h1.test", "https://h1.test/"),        # empty path
        ("https://h1.test/a//b/./c/../d", "https://h1.test/a/b/d"),
        ("https://h1.test/p?q=1#f", "https://h1.test/p?q=1"),
        ("mailto:x@y.z", None),                          # non-http scheme
        ("ftp://h1.test/f", None),
        ("", None),
        (None, None),
    ],
)
def test_canonicalize(href, expected):
    assert canonicalize(href, BASE) == expected


def test_canonicalize_no_host_without_base():
    assert canonicalize("https://", None) is None
    assert canonicalize("/p/1", None) is None


def _canonicalize_slow(href, base=None):
    """The urllib reference path, bypassing the fast path — ground truth
    for the fast-path equivalence fuzz below."""
    from urllib.parse import urljoin, urlsplit, urlunsplit

    from goprowl_spark.functions import urlnorm as U

    if href is None or href == "":
        return None
    try:
        raw = urljoin(base, href) if base else href
        parts = urlsplit(raw)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in U._DEFAULT_PORTS:
        return None
    hostname = (parts.hostname or "").lower()
    if not hostname:
        return None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = hostname
    if port is not None and port != U._DEFAULT_PORTS[scheme]:
        netloc = f"{hostname}:{port}"
    path = parts.path or "/"
    segs = []
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


def test_canonicalize_fast_path_equivalence_fuzz():
    """The identity-canonical fast path (urlnorm._canonicalize_fast) must
    agree with the urllib slow path on EVERY input: structured edge cases
    (ports, userinfo, params ';', dot segments, fragments, control chars)
    plus 20k random character-soup hrefs against a spread of bases."""
    import itertools
    import random

    rng = random.Random(20260822)
    hosts = ["h0.test", "H0.TEST", "h9.test.", "a", "h-x.b.c",
             "h0.test:443", "h0.test:8080", "u:p@h0.test", "[::1]", ""]
    paths = ["", "/", "/p/5", "/p/5/", "/p//5", "/p/./5", "/p/../5",
             "/p/5#frag", "/p/5?q=1", "/P/5", "/p/5%20x", "/p/.hid",
             "/p/..x", "/p/5\t", "/p/:@!$&'()*+,;=", "/p/5\\x",
             "/p/5/..", "/p/5/.", "/p/5;x", "/;", "/.;"]
    schemes = ["https://", "http://", "HTTPS://", "ftp://", "", "//"]
    bases = [None, "", "https://h0.test/p/1", "HTTPS://H0.test/p/1",
             "https://h0.test", "https://h0.test:8080/p/1",
             "ftp://h0.test/p/1", "https://u@h0.test/x/",
             "https://h0.test/p/1;par", "https://h0.test/p;a/1"]
    hrefs = set()
    for s, h, p in itertools.product(schemes, hosts, paths):
        hrefs.add(s + h + p)
    hrefs.update(paths)
    hrefs.update(["#frag", "#", "#;f", "p/5", "./x", "../x", "x#f",
                  "?q=2", "mailto:x@y", "javascript:void(0)"])
    chars = "abzAZ09./:#?%-_~&=+;@!$'()*,\\\t\n "
    for _ in range(20000):
        hrefs.add("".join(rng.choice(chars) for _ in range(rng.randint(1, 28))))
    for href in hrefs:
        for base in bases:
            assert canonicalize(href, base) == _canonicalize_slow(href, base), (
                href, base
            )
