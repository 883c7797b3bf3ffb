"""URL kernel: canonicalization, origin, trap/file filters.

Re-expresses the reference's URL semantics as native Spark column
expressions (JVM-side, codegen-friendly — no Python in the hot path):

- canonicalize_url  <- normalize_url   (spider/src/web_visitor.rs:288-301)
- url_origin        <- origin          (spider/src/web_visitor.rs:273-280)
- same_origin       <- same_origin     (spider/src/web_visitor.rs:282-286)
- is_crawl_trap     <- is_crawl_trap   (spider/src/crawl_loop.rs:286-294)
- looks_like_file_url <- FILE_EXTENSIONS list (spider/src/web_visitor.rs:302-313)

Plus ``py_*`` plain-Python twins used by the sequential oracle simulator and
inside Arrow batches — kept in this module so the two paths share one
definition of the constants.

Canonical form (matches the Rust `url` crate on our URL universe):
scheme and host lowercased, fragment stripped, query stripped, default port
(http:80 / https:443) dropped, empty path -> "/". Exotic cases the Rust crate
also handles (IDNA hosts, percent-encoding normalization, userinfo) are out
of the synthetic-fixture universe; ``py_canonicalize_url`` documents the gap.
"""

from __future__ import annotations

from urllib.parse import urlsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

# spider/src/crawl_loop.rs:288-292
TRAP_SEGMENTS = (
    "login", "logout", "signin", "signout", "sign-in", "sign-out",
    "sign_in", "sign_out", "signup", "sign-up", "sign_up", "register",
    "search", "calendar",
)

# spider/src/web_visitor.rs:302-306
FILE_EXTENSIONS = (
    "jpg", "jpeg", "png", "gif", "webp", "avif", "svg", "ico", "pdf",
    "zip", "tar", "gz", "7z", "mp3", "wav", "ogg", "mp4", "webm", "mov",
    "avi", "doc", "docx", "xls", "xlsx", "ppt", "pptx",
)

# bulk_crawl.py:60-66 default skip patterns (config bulk_crawl_config.json)
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"


def _strip_query_fragment(url: Column) -> Column:
    return F.regexp_replace(url, r"[?#].*$", "")


def url_scheme(url: Column) -> Column:
    """Lowercased scheme, or '' if the value has no ``scheme://``."""
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def _authority(url: Column) -> Column:
    """host[:port] part (no userinfo in our universe)."""
    return F.regexp_extract(url, _SCHEME_RE + r"([^/?#]*)", 2)


def _path(url: Column) -> Column:
    """Path starting at the first '/' after the authority ('' if none)."""
    return F.regexp_extract(_strip_query_fragment(url), _SCHEME_RE + r"[^/?#]*(/.*)?$", 2)


def canonicalize_url(url: Column) -> Column:
    """normalize_url (web_visitor.rs:288-301) as one null-able expression.

    Returns NULL for non-http(s) or host-less values — callers filter on
    ``isNotNull`` exactly where the reference returns ``None``.
    """
    url = F.trim(url)  # Url::parse trims leading/trailing C0/space
    scheme = url_scheme(url)
    auth = F.lower(_authority(url))
    # drop default port (web_visitor.rs:293-298)
    auth = F.when(
        (scheme == "http") & auth.endswith(":80"), F.substring(auth, 1, F.length(auth) - 3)
    ).otherwise(auth)
    auth = F.when(
        (scheme == "https") & auth.endswith(":443"), F.substring(auth, 1, F.length(auth) - 4)
    ).otherwise(auth)
    path = _path(url)
    path = F.when((path.isNull()) | (path == ""), F.lit("/")).otherwise(path)
    # authority must be host[:digit-port] — Url::parse fails on bad ports
    ok = (
        scheme.isin("http", "https")
        & (F.regexp_extract(auth, r"^([^:]+)", 1) != "")
        & auth.rlike(r"^[^:@/]+(:[0-9]+)?$")
    )
    return F.when(ok, F.concat(scheme, F.lit("://"), auth, path)).otherwise(F.lit(None))


def url_host(url: Column) -> Column:
    """Lowercased host without port."""
    return F.lower(F.regexp_extract(url, _SCHEME_RE + r"([^/:?#]*)", 2))


def url_origin(url: Column) -> Column:
    """origin() (web_visitor.rs:273-280): scheme://host[:explicit-port].

    On canonical URLs the default port is already stripped, so this is the
    same-origin key too (same_origin, web_visitor.rs:282-286, compares
    port_or_known_default — equal iff canonical origins are equal).
    """
    return F.concat(url_scheme(url), F.lit("://"), F.lower(_authority(url)))


def same_origin(left: Column, right: Column) -> Column:
    return url_origin(left) == url_origin(right)


def is_crawl_trap(url: Column) -> Column:
    """Any lowercase path segment == a trap word (crawl_loop.rs:286-294)."""
    pattern = r"(?i)(?:^|/)(?:" + "|".join(s.replace("-", r"\-") for s in TRAP_SEGMENTS) + r")(?:/|$)"
    return _path(url).rlike(pattern)


def looks_like_file_url(url: Column) -> Column:
    """Last path segment's extension in FILE_EXTENSIONS (web_visitor.rs:308-313)."""
    last = F.element_at(F.split(_path(url), "/"), -1)
    ext = F.lower(F.substring_index(last, ".", -1))
    return F.coalesce(last.contains(".") & ext.isin(*FILE_EXTENSIONS), F.lit(False))


def url_path_depth(url: Column) -> Column:
    """Number of non-empty path segments (api/src/ranking.rs:84-99 analogue)."""
    return F.size(F.filter(F.split(_path(url), "/"), lambda s: s != ""))


# ---------------------------------------------------------------------------
# Plain-Python twins (oracle simulator + inside Arrow batches).
# ---------------------------------------------------------------------------

def py_canonicalize_url(value: str) -> str | None:
    """Python twin of canonicalize_url; parity-tested against the Spark expr.

    Known divergence from the Rust `url` crate (out of fixture scope):
    no IDNA encoding, no percent-encoding normalization, no userinfo
    handling.
    """
    try:
        parts = urlsplit(value.strip())
        scheme = parts.scheme.lower()
        if scheme not in ("http", "https") or not parts.hostname:
            return None
        host = parts.hostname.lower()
        port = parts.port  # raises ValueError on non-integer port
    except ValueError:
        return None
    if (scheme == "http" and port == 80) or (scheme == "https" and port == 443):
        port = None
    auth = host if port is None else f"{host}:{port}"
    path = parts.path or "/"
    return f"{scheme}://{auth}{path}"


def py_origin(url: str) -> str | None:
    parts = urlsplit(url)
    if not parts.hostname:
        return None
    port = f":{parts.port}" if parts.port is not None else ""
    return f"{parts.scheme}://{parts.hostname}{port}"


def py_is_crawl_trap(url: str) -> bool:
    path = urlsplit(url).path.lower()
    return any(seg in TRAP_SEGMENTS for seg in path.split("/"))


def py_looks_like_file_url(url: str) -> bool:
    path = urlsplit(url).path
    segs = [s for s in path.split("/")]
    last = segs[-1] if segs else ""
    if "." not in last:
        return False
    return last.rsplit(".", 1)[1].lower() in FILE_EXTENSIONS


def py_same_origin(left: str, right: str) -> bool:
    lp, rp = urlsplit(left), urlsplit(right)
    default = {"http": 80, "https": 443}
    lport = lp.port if lp.port is not None else default.get(lp.scheme)
    rport = rp.port if rp.port is not None else default.get(rp.scheme)
    return lp.scheme == rp.scheme and lp.hostname == rp.hostname and lport == rport
