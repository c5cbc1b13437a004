"""URL canonicalization with Rust ``url``-crate (WHATWG URL Standard) semantics.

This is the single pinned implementation used by BOTH the Spark engine (inside
Arrow-batched pandas UDFs, see functions/udfs.py) and the pure-Python oracle
(oracle/pyoracle.py), so the seen-set identity semantics are identical by
construction.

Reference semantics replicated (cited for parity checking, no code copied):
* absolute parse, else RFC-3986 join against the base URL —
  reference ``normalize_url`` at src/extractors/links.rs:295-306 and
  ``Link::new_relative`` at links.rs:109-118;
* hrefs starting with ``#`` are dropped before any parsing —
  links.rs:296-300;
* link typing by scheme (mailto/tel/other) — links.rs:179-185;
* Link identity is by canonical URL string only — links.rs:188-200.

WHATWG behaviors implemented (public spec, https://url.spec.whatwg.org):
* strip leading/trailing C0-control/space; remove ASCII tab/newline anywhere;
* lowercase scheme and host; strip default port (http 80, https 443, ws 80,
  wss 443, ftp 21);
* percent-decode the host, then reject forbidden domain code points
  (shared with ``normalize_host``);
* remove path dot-segments for special schemes, including ``%2e`` spellings
  of the dots (``.%2e``, ``%2E%2e``); empty path -> "/";
* percent-encode the path / query / fragment percent-encode sets (UTF-8),
  with ``'`` encoded in a special scheme's query (the special-query set);
  existing ``%`` bytes are never re-encoded or decoded;
* non-special schemes (mailto:, tel:, ...) keep an opaque path;
* fragments are preserved (the reference does NOT strip fragments unless the
  raw href *starts* with ``#``);
* a special URL reads ``\\`` as ``/`` (in a relative reference, before its
  query and fragment);
* a ``file:`` URL's host may be empty (``file:///etc/passwd``), and
  ``localhost`` or a Windows drive letter is no host.

Known gap: numeric IPv4 hosts are not parsed (``http://0x7f.1/`` stays as
written; WHATWG and the url crate give ``http://127.0.0.1/``).
"""

from __future__ import annotations

import re
from urllib.parse import unquote

# Schemes the WHATWG standard treats as "special" (authority-based).
SPECIAL_SCHEMES: dict[str, int | None] = {
    "http": 80,
    "https": 443,
    "ws": 80,
    "wss": 443,
    "ftp": 21,
    "file": None,
}

_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*):(.*)$", re.DOTALL)
_TAB_NL = str.maketrans("", "", "\t\n\r")

# Percent-encode sets per WHATWG (minimal supersets; '%' itself is never
# re-encoded to avoid double-encoding already-escaped input).
_PATH_SAFE = set(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "!$&'()*+,-./:;=@_~%[]|^"  # chars the url crate leaves verbatim in paths
)
_QUERY_SAFE = _PATH_SAFE | {"?", "{", "}", "`"}
_SPECIAL_QUERY_SAFE = _QUERY_SAFE - {"'"}
_FRAG_SAFE = _PATH_SAFE | {"?", "{", "}"}


# fast-path regexes: one C-speed scan decides whether the per-char
# percent-encoding walk is needed at all (it almost never is for canonical
# input — this is the hot path of normalize_url)
_UNSAFE_RE = {
    id(_PATH_SAFE): re.compile(r"[^A-Za-z0-9!$&'()*+,\-./:;=@_~%\[\]|^]"),
    id(_QUERY_SAFE): re.compile(r"[^A-Za-z0-9!$&'()*+,\-./:;=@_~%\[\]|^?{}`]"),
    id(_SPECIAL_QUERY_SAFE): re.compile(r"[^A-Za-z0-9!$&()*+,\-./:;=@_~%\[\]|^?{}`]"),
    id(_FRAG_SAFE): re.compile(r"[^A-Za-z0-9!$&'()*+,\-./:;=@_~%\[\]|^?{}]"),
}


def _pct_encode(s: str, safe: set[str]) -> str:
    fast = _UNSAFE_RE.get(id(safe))
    if fast is not None and not fast.search(s):
        return s
    out = []
    for ch in s:
        if ch in safe:
            out.append(ch)
        else:
            out.append("".join(f"%{b:02X}" for b in ch.encode("utf-8")))
    return "".join(out)


def _dot_segment(seg: str) -> str:
    """'.' or '..' for a WHATWG single- or double-dot path segment, whose
    dots may be spelled '%2e' in either case ('%2E', '.%2e'); any other
    segment unchanged."""
    if "%" in seg and len(seg) <= 6:
        dots = seg.lower().replace("%2e", ".")
        if dots in (".", ".."):
            return dots
    return seg


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments (url crate applies on parse)."""
    if "/." not in path and "%2e" not in path and "%2E" not in path:
        return path  # fast path: no dot segments anywhere
    output: list[str] = []
    seg = ""
    for seg in map(_dot_segment, path.split("/")):
        if seg == ".":
            continue
        if seg == "..":
            if len(output) > 1:
                output.pop()
            continue
        output.append(seg)
    # a trailing "." / ".." implies a trailing slash
    if seg in (".", "..") and output and output[-1] != "":
        output.append("")
    return "/".join(output)


# Already-canonical fast paths: strings matching these shapes are provably
# fixed points of parse_absolute (lowercase scheme+host, no port/userinfo,
# '/'-rooted path of safe chars without '%' or dot-segments, safe query/
# fragment) — the full parse would return them unchanged, so skip it.
# Cross-validated against the slow path in tests/test_urlnorm.py.
_FAST_SPECIAL_RE = re.compile(
    r"^(?:http|https|ws|wss|ftp)://"
    r"[a-z0-9](?:[a-z0-9.\-])*"
    r"/[A-Za-z0-9!$&'()*+,\-./:;=@_|\]\[^~]*"
    r"(?:\?[A-Za-z0-9!$&()*+,\-./:;=@_|\]\[^~?{}`]*)?"
    r"(?:#[A-Za-z0-9!$&'()*+,\-./:;=@_|\]\[^~?{}]*)?$"
)
_FAST_OPAQUE_RE = re.compile(
    r"^(?:mailto|tel):[A-Za-z0-9!$&'()*+,\-./:;=@_~?{}`]*$"
)


def parse_absolute(raw: str) -> str | None:
    """Parse an absolute URL; return the canonical string or None.

    None corresponds to the reference's ``Url::parse`` Err (links.rs:77-81):
    the caller then attempts a relative join.
    """
    if raw is None:
        return None
    if _FAST_SPECIAL_RE.match(raw):
        if "/." not in raw:
            return raw
    elif _FAST_OPAQUE_RE.match(raw):
        return raw
    s = raw.strip(" \x00\x01\x02\x03\x04\x05\x06\x07\x08\x0b\x0c\x0e\x0f"
                  "\x10\x11\x12\x13\x14\x15\x16\x17\x18\x19\x1a\x1b\x1c\x1d\x1e\x1f\x7f\t\n\r")
    s = s.translate(_TAB_NL)
    m = _SCHEME_RE.match(s)
    if not m:
        return None
    scheme = m.group(1).lower()
    rest = m.group(2)

    if scheme not in SPECIAL_SCHEMES:
        # Opaque path (mailto:, tel:, data:, javascript:, unknown schemes).
        # Split off ?query and #fragment, lightly encode each part.
        frag = None
        if "#" in rest:
            rest, frag = rest.split("#", 1)
        query = None
        if "?" in rest:
            rest, query = rest.split("?", 1)
        out = scheme + ":" + _pct_encode(rest, _PATH_SAFE | {"?", "{", "}", "`", '"', "<", ">", "\\"})
        if query is not None:
            out += "?" + _pct_encode(query, _QUERY_SAFE)
        if frag is not None:
            out += "#" + _pct_encode(frag, _FRAG_SAFE)
        return out

    userinfo = ""
    port: str | None = None
    if scheme == "file":
        # a file URL's host may be empty ("file:///etc/passwd"); it has no
        # userinfo or port
        parsed = _file_host(rest)
        if parsed is None:
            return None
        host, tail = parsed
        return _with_path(f"file://{host}", tail)

    # Special scheme: authority required. WHATWG tolerates 0..n slashes.
    rest2 = rest.lstrip("/\\")
    if rest2 == "":
        return None  # e.g. "http://" — empty host is a parse error
    authority, tail = _split_authority(rest2)
    if authority == "":
        return None

    hostport = authority
    if "@" in authority:
        userinfo, hostport = authority.rsplit("@", 1)
        userinfo += "@"
    if hostport == "":
        return None
    # IPv6 literal
    if hostport.startswith("["):
        end = hostport.find("]")
        if end == -1:
            return None
        host = hostport[: end + 1].lower()
        rest_hp = hostport[end + 1 :]
        if rest_hp.startswith(":"):
            port = rest_hp[1:]
        elif rest_hp:
            return None
    else:
        if ":" in hostport:
            host, port = hostport.split(":", 1)
        else:
            host = hostport
        host = _domain_to_ascii(host)
        if not host:
            return None
    if port is not None:
        if port == "":
            port = None
        elif not port.isdigit():
            return None
        elif int(port) == SPECIAL_SCHEMES[scheme]:
            port = None
        elif int(port) > 65535:
            return None

    out = f"{scheme}://{userinfo}{host}"
    if port is not None:
        out += f":{port}"
    return _with_path(out, tail)


def _split_authority(rest: str) -> tuple[str, str]:
    """(authority, path?query#fragment) of a special URL's text after its
    scheme and slashes; a backslash is a slash."""
    sep_idx = len(rest)
    for i, ch in enumerate(rest):
        if ch in "/?#\\":
            sep_idx = i
            break
    return rest[:sep_idx], rest[sep_idx:].replace("\\", "/")


_DRIVE_LETTER_RE = re.compile(r"^[A-Za-z][:|]$")


def _file_host(rest: str) -> tuple[str, str] | None:
    """(host, path?query#fragment) of a file URL's text after ``file:``, as
    the WHATWG file states read it: a host only after two slashes, empty
    when the authority is empty, a Windows drive letter or ``localhost``;
    None when the host is invalid."""
    if rest[:1] not in ("/", "\\") or rest[1:2] not in ("/", "\\"):
        return "", rest.replace("\\", "/")
    authority, tail = _split_authority(rest[2:])
    if authority == "" or _DRIVE_LETTER_RE.match(authority):
        return "", rest[2:].replace("\\", "/")
    host = _domain_to_ascii(authority)
    if not host:
        return None
    return ("" if host == "localhost" else host), tail


def _with_path(out: str, tail: str) -> str:
    """``out`` (scheme, authority) + the canonical path, query and fragment
    of a special URL's ``tail``."""
    frag = None
    if "#" in tail:
        tail, frag = tail.split("#", 1)
    query = None
    if "?" in tail:
        tail, query = tail.split("?", 1)
    path = tail if tail.startswith("/") else "/" + tail
    path = _remove_dot_segments(path)
    if not path.startswith("/"):
        path = "/" + path
    out += _pct_encode(path, _PATH_SAFE)
    if query is not None:
        out += "?" + _pct_encode(query, _SPECIAL_QUERY_SAFE)
    if frag is not None:
        out += "#" + _pct_encode(frag, _FRAG_SAFE)
    return out


# --- memo caches (hot path: hrefs and bases repeat massively in crawls;
# results are pure functions of the input, so caching is semantics-free).
# Sized for one Arrow batch's working set; cleared when full.
_CACHE_MAX = 1 << 18
_abs_cache: dict[str, str | None] = {}
_base_cache: dict[str, str | None] = {}
_MISS = object()


def _parse_absolute_cached(s: str) -> str | None:
    v = _abs_cache.get(s, _MISS)
    if v is _MISS:
        if len(_abs_cache) >= _CACHE_MAX:
            _abs_cache.clear()
        v = _abs_cache[s] = parse_absolute(s)
    return v


_rel_scheme_re = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
_PATH_END_RE = re.compile(r"[?#]")


def _fast_join(bscheme: str, bnetloc: str, bpath: str, rel: str) -> str | None:
    """Exact replica of CPython urljoin's path resolution for the common
    case (scheme-less, authority-less rel with a non-empty path), skipping
    the base re-parse urljoin pays on EVERY call — the hot 55% of the link
    kernel (cross-validated against stdlib urljoin in
    tests/test_round6_opt.py). Unlike urljoin it keeps an empty query or
    fragment ('p?' -> '.../p?') and an empty ';params' part, as WHATWG does.
    Returns None for the rels join_url resolves before it reaches here.
    """
    if not rel or rel.startswith("//") or _rel_scheme_re.match(rel):
        return None  # join_url resolves these before it calls here
    frag = None
    if "#" in rel:
        rel, frag = rel.split("#", 1)
    query = None
    if "?" in rel:
        rel, query = rel.split("?", 1)
    if rel == "":
        return None  # query/fragment-only refs keep base parts — join_url
    if rel.startswith("/"):
        segments = rel.split("/")
    else:
        base_parts = bpath.split("/")
        if base_parts[-1] != "":
            del base_parts[-1]
        segments = base_parts + rel.split("/")
        segments[1:-1] = [s for s in segments[1:-1] if s]
    if "%" in rel:
        segments = [_dot_segment(s) for s in segments]
    resolved: list[str] = []
    for seg in segments:
        if seg == "..":
            if resolved:
                resolved.pop()
        elif seg == ".":
            continue
        else:
            resolved.append(seg)
    if segments[-1] in (".", ".."):
        resolved.append("")
    path = "/".join(resolved) or "/"
    if path[:1] != "/":
        path = "/" + path
    out = f"{bscheme}://{bnetloc}{path}"
    if query is not None:
        out += "?" + query
    if frag is not None:
        out += "#" + frag
    return out


def join_url(base: str, rel: str) -> str | None:
    """Resolve ``rel`` against ``base`` as WHATWG does, then canonicalize
    (reference links.rs:109-118).

    A rel with a scheme is parsed as an absolute URL, unless the base's
    scheme is special and the same (``http:p`` against an http base), where it
    resolves as the scheme-less rel (``p``). A scheme-less rel against a base
    without an authority (``mailto:``; a ``file:`` base may have an empty
    host) resolves to None. Against a special base a ``\\`` before the
    rel's query and fragment is a ``/``. Then: empty -> the base up to its
    fragment; query- or fragment-only -> the base up to the replaced part;
    protocol-relative -> the base's scheme + the rel, parsed as absolute;
    anything else is a path, joined by ``_fast_join``.
    """
    parts = _base_cache.get(base, _MISS)
    if parts is _MISS:
        if len(_base_cache) >= _CACHE_MAX:
            _base_cache.clear()
        base_canon = parse_absolute(base)
        if base_canon is None:
            parts = None
        else:
            # pre-split once per base: scheme, netloc, path (the only
            # components the relative join consumes)
            from urllib.parse import urlsplit

            sp = urlsplit(base_canon)
            parts = (base_canon, sp.scheme, sp.netloc, sp.path)
        _base_cache[base] = parts
    if parts is None:
        return None
    base_canon, bscheme, bnetloc, bpath = parts
    rel_clean = rel.translate(_TAB_NL).strip()
    scheme = _rel_scheme_re.match(rel_clean)
    if scheme is not None:
        if bscheme not in SPECIAL_SCHEMES or rel_clean[: scheme.end() - 1].lower() != bscheme:
            return _parse_absolute_cached(rel_clean)
        rel_clean = rel_clean[scheme.end():]
        if _rel_scheme_re.match(rel_clean):
            rel_clean = "./" + rel_clean  # a path segment, not a scheme
    if not bnetloc and bscheme != "file":
        return None
    if "\\" in rel_clean and bscheme in SPECIAL_SCHEMES:
        # a special URL reads "\" as "/" before its query and fragment
        cut = _PATH_END_RE.search(rel_clean)
        cut = cut.start() if cut else len(rel_clean)
        rel_clean = rel_clean[:cut].replace("\\", "/") + rel_clean[cut:]
    if not rel_clean:
        joined = base_canon.split("#", 1)[0]
    elif rel_clean[0] in "?#":
        # the base up to the replaced part, keeping an empty query or fragment
        head = base_canon.split("#", 1)[0]
        if rel_clean[0] == "?":
            head = head.split("?", 1)[0]
        joined = head + rel_clean
    elif rel_clean[:2] == "//":
        # protocol-relative: an empty ';params' part is kept, extra slashes
        # before a special host are skipped, an empty host fails
        joined = bscheme + ":" + rel_clean
    else:
        joined = _fast_join(bscheme, bnetloc, bpath, rel_clean)
    return _parse_absolute_cached(joined)


def normalize_url(href: str | None, base_url: str) -> str | None:
    """The reference's normalize_url (links.rs:295-306): canonical URL or None.

    * href starting with '#'  -> dropped (links.rs:296-300);
    * absolute parse first    -> links.rs:302-303;
    * else join against base  -> links.rs:304.
    """
    if href is None:
        return None
    stripped = href.strip()
    if stripped.startswith("#"):
        return None
    absolute = _parse_absolute_cached(stripped)
    if absolute is not None:
        return absolute
    return join_url(base_url, stripped)


def link_type_of(url: str) -> str:
    """Scheme -> LinkType string (reference links.rs:179-185)."""
    if url.startswith("mailto:"):
        return "Mail"
    if url.startswith("tel:"):
        return "PhoneNo"
    return "Other"


_FORBIDDEN_HOST_CHARS = set(" \t\n\r#/:?@[\\]^|<>%\"")


def normalize_host(entry: str) -> str | None:
    """Host-list entry normalization, mirroring ``url::Host::parse`` as the
    reference's whitelist/blacklist loader applies it (file_handler.rs:12-28):
    lowercase, IDN -> punycode, unparsable entries silently dropped (None).
    Without this, `HOST0.EXAMPLE` or an IDN entry never matches the canonical
    lowercase host and the policy filter silently rejects everything.
    IPv6 literals keep their brackets (the url crate renders hosts that way).
    """
    h = entry.strip()
    if not h:
        return None
    if h.startswith("["):
        return h.lower() if h.endswith("]") and len(h) > 2 else None
    return _domain_to_ascii(h)


def _domain_to_ascii(h: str) -> str | None:
    """A non-IPv6 host as ``url::Host::parse`` reads it, shared by
    ``normalize_host`` and ``parse_absolute``: percent-decode, reject
    forbidden domain code points, lowercase, IDN -> punycode; None when the
    host is invalid."""
    # Host::parse percent-decodes BEFORE IDNA/validation ('ex%61mple.com' ->
    # example.com); a stray '%' surviving the decode is still a forbidden
    # host byte and rejects below, same as the url crate. C0 controls + DEL
    # (e.g. a decoded %00) are WHATWG forbidden domain code points the url
    # crate also rejects — they only become reachable via the decode, so the
    # guard lives here rather than in _FORBIDDEN_HOST_CHARS
    h = unquote(h)
    if any(c in _FORBIDDEN_HOST_CHARS or ord(c) < 0x20 or c == "\x7f" for c in h):
        return None
    h = h.lower()
    try:
        h.encode("ascii")
    except UnicodeEncodeError:
        try:
            h = h.encode("idna").decode("ascii")
        except UnicodeError:
            return None
    return h


def host_of(url: str) -> str | None:
    """Host of a canonical URL, or None (opaque-path schemes have no host)."""
    m = _SCHEME_RE.match(url)
    if not m or m.group(1).lower() not in SPECIAL_SCHEMES:
        return None
    rest = m.group(2)
    rest = rest[2:] if rest.startswith("//") else rest.lstrip("/")
    end = len(rest)
    for i, ch in enumerate(rest):
        if ch in "/?#":
            end = i
            break
    authority = rest[:end]
    if "@" in authority:
        authority = authority.rsplit("@", 1)[1]
    if authority.startswith("["):
        return authority[: authority.find("]") + 1]
    return authority.split(":", 1)[0] or None


# Tracking parameters stripped by strip_tracking_params — the ad-/analytics-
# attribution params that fragment one logical page into thousands of
# distinct URLs in crawl frontiers and WARC indexes (the standard
# link-cleaning list: UTM family by prefix, plus click-id params)
TRACKING_PARAM_PREFIXES = ("utm_",)
TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "mc_eid", "igshid")


def strip_tracking_params_col(url):
    """Catalyst expression: ``url`` with tracking query params removed —
    the URL-canonicalization pass upstream of frontier dedup / index keys
    (SURT handles case/host form; this handles query noise). Non-tracking
    params keep their original order; a query left empty drops its '?'.
    Fragments are assumed already stripped by normalize_url (the engine's
    canonical form never carries one).

    Pure higher-order Catalyst (split/filter/array_join) — whole-stage
    codegen, no Python, scan-side at 100 TB. DuckDB twin uses the same
    split/list_filter shape."""
    from pyspark.sql import functions as F

    def is_tracking(p):
        cond = F.lit(False)
        for pfx in TRACKING_PARAM_PREFIXES:
            cond = cond | p.startswith(pfx)
        for name in TRACKING_PARAMS:
            cond = cond | p.startswith(name + "=")
        return cond

    path = F.substring_index(url, "?", 1)
    # everything after the FIRST '?' — a second '?' is legal inside a query
    # and must stay part of it (substring_index(url,'?',-1) would split at
    # the last '?' and silently drop the middle segment)
    q = F.substr(url, F.locate("?", url) + F.lit(1))
    kept = F.array_join(F.filter(F.split(q, "&"), lambda p: ~is_tracking(p)), "&")
    return (
        F.when(~url.contains("?"), url)
        .when(kept == "", path)
        .otherwise(F.concat(path, F.lit("?"), kept))
    )


def strip_tracking_params(url: str) -> str:
    """Python twin of strip_tracking_params_col (oracle/tests)."""
    if "?" not in url:
        return url
    path, q = url.split("?", 1)
    kept = [
        p
        for p in q.split("&")
        if not (
            any(p.startswith(pfx) for pfx in TRACKING_PARAM_PREFIXES)
            or any(p.startswith(name + "=") for name in TRACKING_PARAMS)
        )
    ]
    # join FIRST, then test: ['']-style empties must drop the '?' exactly
    # like the Catalyst form's kept == '' branch
    kept_s = "&".join(kept)
    return path + ("?" + kept_s if kept_s else "")
