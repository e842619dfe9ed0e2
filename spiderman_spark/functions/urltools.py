"""URL canonicalization + request fingerprinting — shared by the Spark engine
and the reference simulator so dedup semantics match bit-for-bit.

Reference parity: scrapy-redis RFPDupeFilter computes sha1 over
(method, canonical url, body) — `SP/settings.py:103` pins
scrapy_redis==0.6.8 whose filter delegates to scrapy's
request_fingerprint.  We reproduce the skeleton (sha1 over
method + canonicalized URL + request body) and keep the whole thing a pure
function so it runs unchanged driver-side (simulator) and inside the engine's
parse ``mapInPandas`` (operators/parse.py), which stamps every child request
with its ``fp``/``canon`` in the same Python pass that emits it — no separate
pandas-UDF stage, whose fixed per-task cost would double the round's Python
overhead (see the operators/parse.py docstring).

Scale note: the persistent URL-seen table is keyed by ``xxhash64(canonical)``
(8 bytes vs 40-hex sha1) per the north rule; the sha1 fingerprint column is
retained for reference parity. Both derive from the same canonical form.
"""

import hashlib
from urllib.parse import urljoin as _urljoin


def canonical(url: str) -> str:
    """w3lib-lite canonicalization: lowercase scheme+netloc, drop fragment,
    strip a bare trailing '?'.  Sufficient for the synthetic URL space; the
    rule set is centralized here so widening it changes every consumer."""
    url = url.split("#", 1)[0].rstrip("?")
    if "://" in url:
        scheme, rest = url.split("://", 1)
        if "/" in rest:
            netloc, path = rest.split("/", 1)
            return f"{scheme.lower()}://{netloc.lower()}/{path}"
        return f"{scheme.lower()}://{rest.lower()}"
    return url


def fingerprint(method: str, url: str, body: str = "") -> str:
    """sha1 over (method, canonical url, request body) hexdigest — the dedup
    key.  Matches scrapy's request_fingerprint skeleton, which hashes the
    body too (`SP/utils/base.py:18-25` carries ``body`` on ScheduledRequest;
    `SP/spiders/SPRedisSpider.py:39-50` builds FormRequests from it): two
    POSTs to one URL with different payloads are different requests.

    Each component is length-prefixed before hashing (scrapy feeds them as
    separate update() calls for the same reason): URLs legally contain the
    would-be delimiter, so a joined string lets distinct (url, body) pairs
    collide — e.g. ('http://h/a:b', '') vs ('http://h/a', 'b:')."""
    h = hashlib.sha1()
    for part in (method, canonical(url), body or ""):
        b = part.encode()
        h.update(len(b).to_bytes(8, "little"))
        h.update(b)
    return h.hexdigest()


def urljoin(base: str, link: str) -> str:
    """Resolve a possibly-relative link against the response URL (F10,
    `SP/spiders/zhifang.py:76,125` response.urljoin)."""
    return _urljoin(base, link)


def host_of(url: str) -> str:
    return url.split("/", 3)[2] if "://" in url else url.split("/", 1)[0]

