"""URL canonicalization, session-id normalization, public-suffix root-domain
extraction and URLFPV2 fingerprints.

Reproduces the crawl-identity semantics of the reference engine:

* ``canonicalize_url`` — reference util/shared/URLUtils.java:355-434
  (googleurl parse → scheme://[user[:pass]@]host[:port]path-up-to-';'
  [?query], drop fragment, strip trailing host dot, strip leading ``www.``
  unless host == registrable root domain, drop port 80) followed by
  session-id normalization.  The googleurl C++ library
  (reference src/native/src/libGoogleURL) is re-expressed in Python for
  the subset the reference exercises: scheme/host lowercasing, slash
  normalization, dot-segment removal, default-port removal, percent-escape
  normalization, IDN→punycode.
* ``session_id_normalize`` — exact port of
  util/shared/SessionIDURLNormalizer.java:87-346 (fixture-gated against
  the reference's own 40 test vectors at :356-397).
* ``extract_root_domain_name`` / ``extract_tld_name`` — exact port of
  util/shared/URLUtils.java:41-208 over the same Mozilla
  effective_tld_list.txt (loaded like TLDNamesCollection.java:30-77).
* ``urlfp_batch`` — URLFPV2 construction per
  util/shared/URLUtils.getURLFPV2FromCanonicalURL (:308-336):
  url_hash = fp64(canonical); domain_hash = fp64(host minus ``www.`` when
  host != root domain); root_domain_hash = fp64(root domain).

Batch entry points are vectorized: the byte-matrix kernel
(ccspark.urlkernel) covers link-shaped URLs, and only the residue goes
through the per-string slow path.
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np
import pandas as pd

from . import hashing
from .urlkernel import CHUNK_ROWS

# ---------------------------------------------------------------------------
# Public-suffix list (TLDNamesCollection.java parse: split at LAST dot;
# map[right_side] += {left_side}; single-label line → map[line] += {""})
# ---------------------------------------------------------------------------

_tld_map: dict[str, set[str]] | None = None


def _read_psl_text() -> str:
    """PSL data via importlib.resources — works from a filesystem
    checkout AND from ccspark.zip on a --py-files executor."""
    from importlib import resources

    return (
        resources.files("ccspark.data")
        .joinpath("effective_tld_list.txt")
        .read_text(encoding="utf-8")
    )


def _psl() -> dict[str, set[str]]:
    global _tld_map
    if _tld_map is None:
        m: dict[str, set[str]] = {}
        for line in _read_psl_text().splitlines():
                line = line.rstrip("\n")
                if line.startswith("//") or not line:
                    continue
                dot = line.rfind(".")
                if dot == -1:
                    m.setdefault(line.strip(), set()).add("")
                else:
                    m.setdefault(line[dot + 1 :].strip(), set()).add(line[:dot].strip())
        _tld_map = m
    return _tld_map


_IP_RE = re.compile(r"^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$")
_INVALID_DOMAIN_CHAR_RE = re.compile(r"[^0-9a-z\-\._]")


def _build_root(candidate: str, parts: list[str], root_index: int) -> str:
    # URLUtils.buildRootNameString:21-32
    n = len(parts) - root_index
    length = (n - 1) + sum(len(p) for p in parts[root_index:])
    return candidate[len(candidate) - length :]


def extract_root_domain_name(host: str | None) -> str | None:
    """Port of URLUtils.extractRootDomainName (URLUtils.java:129-208)."""
    if host is None:
        return None
    if _IP_RE.match(host):
        return host
    if host.endswith("."):
        host = host[:-1]
    if host.startswith("*") and len(host) > 1:
        host = host[1:]
    if not host or _INVALID_DOMAIN_CHAR_RE.search(host):
        return None
    parts = host.split(".")
    if len(parts) < 2:
        return None
    secondary = _psl().get(parts[-1])
    if not secondary:
        return None
    second_last = parts[-2]
    if second_last in secondary or "*" in secondary:
        if ("!" + second_last) in secondary:
            return _build_root(host, parts, len(parts) - 2)
        if len(parts) >= 3:
            return _build_root(host, parts, len(parts) - 3)
        return None
    wildcard2 = "*." + second_last
    if wildcard2 in secondary:
        if len(parts) >= 3:
            if ("!" + parts[-3] + "." + second_last) in secondary:
                return _build_root(host, parts, len(parts) - 3)
            if len(parts) >= 4:
                return _build_root(host, parts, len(parts) - 4)
        return None
    if "" in secondary:
        return _build_root(host, parts, len(parts) - 2)
    return None


def extract_tld_name(host: str | None) -> str | None:
    """Port of URLUtils.extractTLDName (URLUtils.java:41-119)."""
    if host is None:
        return None
    if _IP_RE.match(host):
        return "inaddr-arpa.arpa"
    if host.endswith("."):
        host = host[:-1]
    if host.startswith("*") and len(host) > 1:
        host = host[1:]
    if not host or _INVALID_DOMAIN_CHAR_RE.search(host):
        return None
    parts = host.split(".")
    if len(parts) < 2:
        return None
    secondary = _psl().get(parts[-1])
    if not secondary:
        return None
    second_last = parts[-2]
    if second_last in secondary or "*" in secondary:
        if ("!" + second_last) in secondary:
            return _build_root(host, parts, len(parts) - 1)
        return _build_root(host, parts, len(parts) - 2)
    wildcard2 = "*." + second_last
    if wildcard2 in secondary:
        if len(parts) >= 3:
            if ("!" + parts[-3] + "." + second_last) in secondary:
                return _build_root(host, parts, len(parts) - 2)
            if len(parts) >= 4:
                return _build_root(host, parts, len(parts) - 3)
        return None
    if "" in secondary:
        return _build_root(host, parts, len(parts) - 1)
    return None


# ---------------------------------------------------------------------------
# Session-id normalization — exact port of SessionIDURLNormalizer.normalize
# (SessionIDURLNormalizer.java:87-346)
# ---------------------------------------------------------------------------

_HEX_RE = re.compile(r"^[0-9a-fA-F]*$")  # pattern0
_ALNUM_RE = re.compile(r"^[0-9a-zA-Z]*$")  # pattern0_1
_NUM_RE = re.compile(r"^[0-9]*$")  # pattern0_2
_HEXDASH_RE = re.compile(r"^[0-9a-fA-F\-]*$")  # pattern0_3


def session_id_normalize(url_orig: str) -> str:
    url = url_orig.lower()

    # PHPSESSID (SessionIDURLNormalizer.java:93-136)
    idx = url.rfind("phpsessid")
    if idx != -1:
        pos = idx + len("phpsessid")
        if len(url) > pos and url[pos] in "=.-+/":
            id_start = pos + 1
            id_end = id_start
            while id_end != len(url) and url[id_end] not in "&.-+/":
                id_end += 1
            id_str = url[id_start:id_end]
            if id_str:
                m = _HEX_RE.match(id_str)
                desired = 32
                if not m:
                    m = _ALNUM_RE.match(id_str)
                    desired = 26
                if m and len(id_str) == desired:
                    if id_end == len(url):
                        return url_orig[: idx - 1]
                    return url_orig[: idx - 1] + url_orig[id_end:]

    # trailing 32-hex after .php with /oscsid/ (:138-158)
    if ".php" in url:
        last_slash = url.rfind("/")
        if last_slash != -1:
            id_str = url[last_slash + 1 :]
            if len(id_str) == 32 and _HEX_RE.match(id_str):
                prev_slash = url.rfind("/", 0, last_slash)
                if prev_slash != -1 and url.find("oscsid", prev_slash + 1) == prev_slash + 1:
                    return url_orig[:prev_slash]

    # oscsid/<32hex...> (:160-173)
    idx = url.rfind("oscsid")
    if idx != -1:
        nxt = url.find("/", idx + len("oscsid"))
        if nxt != -1:
            id_str = url[nxt + 1 :]
            if len(id_str) == 32 and _HEX_RE.match(id_str):
                return url_orig[: idx - 1]

    # -oscsid-<32hex>.html (:175-189)
    idx = url.rfind("-oscsid-")
    if idx != -1:
        html = url.rfind(".html")
        if html > idx:
            id_str = url[idx + len("-oscsid-") : html]
            if len(id_str) == 32 and _HEX_RE.match(id_str):
                return url_orig[:idx] + url_orig[html:]

    # /sessions/<32hex>/ (:191-206)
    idx = url.find("/sessions/")
    if idx != -1:
        nxt = url.find("/", idx + len("/sessions/"))
        if nxt != -1:
            id_str = url[idx + len("/sessions/") : nxt]
            if len(id_str) == 32 and _HEX_RE.match(id_str):
                return url_orig[:idx] + url_orig[nxt:]

    # ;$sessionid$<alnum> (:208-216)
    idx = url.find(";$sessionid$")
    if idx != -1 and _ALNUM_RE.match(url[idx + len(";$sessionid$") :]):
        return url_orig[:idx]

    # /session_id/<32hex>/ (:218-233)
    idx = url.find("/session_id/")
    if idx != -1:
        nxt = url.find("/", idx + len("/session_id/"))
        if nxt != -1:
            id_str = url[idx + len("/session_id/") : nxt]
            if len(id_str) == 32 and _HEX_RE.match(id_str):
                return url_orig[:idx] + url_orig[nxt:]

    # --session_id.<digits>-- (:235-247)
    idx = url.find("--session_id.")
    if idx != -1:
        nxt = url.find("--", idx + len("--session_id."))
        if nxt != -1 and _NUM_RE.match(url[idx + len("--session_id.") : nxt]):
            return url_orig[:idx] + url_orig[nxt:]

    # sid / oscsid / mscsid preceded by / ? & + (:249-329)
    matching = None
    sid_idx = -1
    for token in ("sid", "oscsid", "mscsid"):
        cand = url.rfind(token)
        if cand not in (-1, 0) and url[cand - 1] in "/?&+":
            matching = token
            sid_idx = cand
            break
    if matching is not None:
        pos = sid_idx + len(matching)
        if len(url) > pos and url[pos] in "=.-+/":
            id_start = pos + 1
            id_end = id_start
            while id_end != len(url) and url[id_end] not in "&.+/":  # NOTE: '-' allowed here
                id_end += 1
            id_str = url[id_start:id_end]
            if id_str:
                desired = 32
                m = _HEX_RE.match(id_str)
                if not m:
                    m = _HEXDASH_RE.match(id_str)
                    desired = 36
                if not m:
                    m = _ALNUM_RE.match(id_str)
                    desired = 26
                if m and len(id_str) >= desired:
                    if id_end == len(url):
                        return url_orig[: sid_idx - 1]
                    return url_orig[: sid_idx - 1] + url_orig[id_end:]

    # ;jsessionid= (:331-343)
    idx = url.find(";jsessionid=")
    if idx != -1:
        q = url.find("?", idx)
        if q != -1:
            return url_orig[:idx] + url_orig[q:]
        return url_orig[:idx]

    return url_orig


# ---------------------------------------------------------------------------
# googleurl-style parsing/canonicalization (Python re-expression of the
# subset exercised via URLUtils; see module docstring)
# ---------------------------------------------------------------------------

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21", "ws": "80", "wss": "443"}
_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*):")
_CTRL_STRIP = "".join(chr(c) for c in range(0x21)) + "\x7f"
_UNRESERVED = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~")
_HEX_DIGITS = "0123456789ABCDEF"


class ParsedURL:
    __slots__ = ("valid", "scheme", "user", "password", "host", "port", "path", "query", "ref")

    def __init__(self):
        self.valid = False
        self.scheme = self.user = self.password = self.host = self.port = ""
        self.path = self.query = self.ref = ""


def _pct_canon(s: str, keep: str, plus_ok: bool = True) -> str:
    """Normalize percent-escapes: uppercase valid %XX, escape bare '%' and
    out-of-range characters; unescape sequences decoding to unreserved."""
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%":
            hex2 = s[i + 1 : i + 3]
            if len(hex2) == 2 and _HEX_RE.match(hex2):
                val = int(hex2, 16)
                ch = chr(val)
                if ch in _UNRESERVED:
                    out.append(ch)
                else:
                    out.append("%" + hex2.upper())
                i += 3
                continue
            out.append("%25")
            i += 1
            continue
        o = ord(c)
        if o <= 0x20 or o == 0x7F or c in '"<>':
            out.append("%" + _HEX_DIGITS[o >> 4] + _HEX_DIGITS[o & 15])
        elif o > 0x7F:
            for b in c.encode("utf-8"):
                out.append("%" + _HEX_DIGITS[b >> 4] + _HEX_DIGITS[b & 15])
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    segments = path.split("/")
    out: list[str] = []
    for i, seg in enumerate(segments):
        if seg == ".":
            pass
        elif seg == "..":
            if len(out) > 1:
                out.pop()
        else:
            out.append(seg)
        last = i == len(segments) - 1
        if last and seg in (".", ".."):
            out.append("")
    res = "/".join(out)
    if not res.startswith("/"):
        res = "/" + res
    return res


# ---------------------------------------------------------------------------
# IPv4-literal host canonicalization — reference
# src/native/src/libGoogleURL/googleurl/src/url_canon_ip.cc:71-241.
# This googleurl vintage has NO "broken" state: any parse failure means
# "not an IP, treat as hostname", and values TRUNCATE (non-last components
# to 1 byte via uchar cast, last to 32 bits via uint32 cast) rather than
# erroring.  Candidacy requires every char in [0-9a-fA-FxX.].
# ---------------------------------------------------------------------------

_IPV4_CHARS_RE = re.compile(r"^[0-9a-fA-FxX.]+$")
_HEX_BODY_RE = re.compile(r"^[0-9a-fA-F]*$")
_OCT_BODY_RE = re.compile(r"^[0-7]+$")


def canonicalize_ipv4_host(host: str) -> str | None:
    """Return the canonical dotted-quad if ``host`` parses as an IPv4
    literal under url_canon_ip.cc semantics, else None (regular host)."""
    if not host or not _IPV4_CHARS_RE.match(host):
        return None
    # FindIPv4Components (:72-117): split on '.', one trailing empty
    # component allowed; empty components elsewhere → not an IP; >4
    # components → not an IP (a 5th lone trailing dot is allowed).
    parts = host.split(".")
    if len(parts) > 1 and parts[-1] == "":
        parts = parts[:-1]
    if not parts or len(parts) > 4 or any(p == "" for p in parts):
        return None
    vals = []
    for comp in parts:
        # IPv4ComponentToNumber (:126-176)
        if comp[0] == "0":
            if len(comp) == 1:
                base, body = 10, comp
            elif comp[1] in "xX":
                base, body = 16, comp[2:]
            else:
                base, body = 8, comp[1:]
        else:
            base, body = 10, comp
        if len(body) > 16:  # kMaxComponentLen
            return None
        if base == 16:
            if not _HEX_BODY_RE.match(body):
                return None
            vals.append(int(body, 16) if body else 0)
        elif base == 8:
            if not _OCT_BODY_RE.match(body):
                return None
            vals.append(int(body, 8))
        else:
            if not body.isdigit():
                return None
            vals.append(int(body))
    # DoCanonicalizeIPv4Address (:198-241): truncate, never fail.
    addr = [(v & 0xFF) for v in vals[:-1]]
    last = vals[-1] & 0xFFFFFFFF
    remaining = 4 - len(addr)
    for shift in range(remaining - 1, -1, -1):
        addr.append((last >> (8 * shift)) & 0xFF)
    return ".".join(str(b) for b in addr)


# a canonical dotted-quad (each octet 0-255, decimal, no leading zeros)
# canonicalizes to itself — the URL kernel keeps such IPv4 hosts on the
# byte-matrix path instead of routing them to the scalar path
_OCTET_SRC = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
_CANON_QUAD_RE = re.compile(r"^%s(?:\.%s){3}$" % (_OCTET_SRC, _OCTET_SRC))


def parse_url(raw: str | None) -> ParsedURL:
    p = ParsedURL()
    if raw is None:
        return p
    s = raw.strip(_CTRL_STRIP)
    s = s.replace("\t", "").replace("\n", "").replace("\r", "")
    m = _SCHEME_RE.match(s)
    if not m:
        return p
    scheme = m.group(1).lower()
    if scheme not in _DEFAULT_PORTS:
        return p
    rest = s[m.end() :]
    i = 0
    while i < len(rest) and rest[i] in "/\\":
        i += 1
    rest = rest[i:]
    # authority ends at first /, \, ?, #
    end = len(rest)
    for j, c in enumerate(rest):
        if c in "/\\?#":
            end = j
            break
    authority, remainder = rest[:end], rest[end:]
    if not authority:
        return p
    user = password = ""
    at = authority.rfind("@")
    hostport = authority
    if at != -1:
        userinfo, hostport = authority[:at], authority[at + 1 :]
        colon = userinfo.find(":")
        if colon == -1:
            user = _pct_canon(userinfo, "")
        else:
            user = _pct_canon(userinfo[:colon], "")
            password = _pct_canon(userinfo[colon + 1 :], "")
    colon = hostport.rfind(":")
    port = ""
    host = hostport
    if colon != -1:
        maybe_port = hostport[colon + 1 :]
        if maybe_port == "" or maybe_port.isdigit():
            host, port = hostport[:colon], maybe_port.lstrip("0") or ("0" if maybe_port else "")
    if not host:
        return p
    # percent-decode then canonicalize host
    try:
        if "%" in host:
            host = re.sub(r"%([0-9a-fA-F]{2})", lambda mm: chr(int(mm.group(1), 16)), host)
        host = host.lower()
        if any(ord(c) > 0x7F for c in host):
            host = host.encode("idna").decode("ascii")
    except Exception:
        return p
    # IPv4-literal interpretation (url_canon_host.cc DoSimpleHost:207 /
    # InterpretIPAddress:130 — runs on the canonicalized host bytes)
    ip = canonicalize_ipv4_host(host)
    if ip is not None:
        host = ip
    # kHostCharLookup (url_canon_host.cc:74-90): a-z 0-9 + - . _ [ ]
    elif not re.match(r"^[a-z0-9+\-._\[\]]+$", host):
        return p
    if port and port in (_DEFAULT_PORTS.get(scheme) or ""):
        port = ""
    # split remainder into path/query/ref
    path = query = ref = ""
    if remainder:
        hash_pos = remainder.find("#")
        if hash_pos != -1:
            ref = remainder[hash_pos + 1 :]
            remainder = remainder[:hash_pos]
        q_pos = remainder.find("?")
        if q_pos != -1:
            query = remainder[q_pos + 1 :]
            remainder = remainder[:q_pos]
        path = remainder.replace("\\", "/")
    if not path:
        path = "/"
    path = _pct_canon(_remove_dot_segments(path), "")
    if query:
        query = _pct_canon(query, "")
    p.valid = True
    p.scheme, p.user, p.password, p.host, p.port = scheme, user, password, host, port
    p.path, p.query, p.ref = path, query, ref
    return p


def canonicalize_url(url: str | None, strip_www: bool = True) -> str | None:
    """Port of URLUtils.canonicalizeURL (URLUtils.java:375-434); returns
    None for invalid URLs (where Java throws MalformedURLException)."""
    p = parse_url(url)
    if not p.valid:
        return None
    out = [p.scheme, "://"]
    if p.user:
        out.append(p.user)
        if p.password:
            out.append(":")
            out.append(p.password)
        out.append("@")
    host = p.host
    if host.endswith("."):
        host = host[:-1]
    if strip_www and host.startswith("www."):
        root = extract_root_domain_name(host)
        if root is None or root != host:
            host = host[4:]
    out.append(host)
    if p.port and p.port != "80":
        out.append(":")
        out.append(p.port)
    if p.path:
        semi = p.path.find(";")
        out.append(p.path[:semi] if semi != -1 else p.path)
    if p.query:
        out.append("?")
        out.append(p.query)
    return session_id_normalize("".join(out))


def canonicalize_batch(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalization via the numpy byte-matrix kernel
    (ccspark.urlkernel), per-string scalar residue for rows the kernel
    routes out."""
    from . import urlkernel

    canon, _hosts = urlkernel.canonicalize_batch_kernel(urls.astype("object"))
    return canon


def canonicalize_batch_with_host(urls: pd.Series) -> tuple[pd.Series, pd.Series]:
    """Kernel canonicalization returning (canonical, host) — the host
    byproduct lets fused fingerprint paths skip re-extraction."""
    from . import urlkernel

    return urlkernel.canonicalize_batch_kernel(urls.astype("object"))


_FAST_HOST_RE = re.compile(r"^[^:]*:/*(?:[^/\\?;#@]*@)?([^/?;#:]*)")


def fast_get_host(canonical_url: str | None) -> str | None:
    """URLUtils.fastGetHostFromURL on an already-canonical URL."""
    if not canonical_url:
        return None
    m = _FAST_HOST_RE.match(canonical_url)
    if not m:
        return None
    host = m.group(1)
    return host if host else None


@lru_cache(maxsize=65536)
def _host_root_cached(host: str) -> tuple[str | None, str | None]:
    """(domain_host, root_domain) per getURLFPV2FromCanonicalURL:315-330."""
    root = extract_root_domain_name(host)
    if root is None:
        return None, None
    if host.startswith("www.") and root != host:
        host = host[4:]
    return host, root


def urlfp_batch(canonical: pd.Series, hosts: pd.Series | None = None) -> pd.DataFrame:
    """URLFPV2 for canonical URLs → DataFrame(domain_hash, url_hash,
    root_domain_hash), nullable Int64 (null where fp is undefined).

    Host-level work (root-domain resolution + host fingerprints) runs
    once per *unique* host — under a zipfian crawl distribution that is
    a small fraction of the rows.  Pass ``hosts`` (the canonicalization
    kernel's byproduct) to skip the regex re-extraction."""
    vals = canonical.tolist()
    # chunked like the canonicalize kernel: the Rabin column walk updates
    # an 8-byte state per row maxlen times — LLC-resident chunks keep
    # that traffic off the shared memory bus (and per-chunk max length
    # shrinks the padded matrix)
    if len(vals) > CHUNK_ROWS:
        url_hash = np.concatenate(
            [hashing.fp64_utf16(vals[s : s + CHUNK_ROWS]) for s in range(0, len(vals), CHUNK_ROWS)]
        )
    else:
        url_hash = hashing.fp64_utf16(vals)
    if hosts is None:
        hosts = canonical.str.extract(_FAST_HOST_RE, expand=False)
    uniq = pd.unique(hosts.dropna())
    host_info: dict[str, tuple[int, int, bool]] = {}
    if len(uniq):
        pairs = [_host_root_cached(h) for h in uniq]
        doms = [p[0] or "" for p in pairs]
        roots = [p[1] or "" for p in pairs]
        dom_fp = hashing.fp64_utf16(doms)
        root_fp = hashing.fp64_utf16(roots)
        for h, p, df_, rf_ in zip(uniq, pairs, dom_fp, root_fp):
            host_info[h] = (int(df_), int(rf_), p[0] is not None)
    zero = (0, 0, False)
    info = [host_info.get(h, zero) if isinstance(h, str) else zero for h in hosts]
    domain_hash = np.fromiter((i[0] for i in info), dtype=np.int64, count=len(info))
    root_hash = np.fromiter((i[1] for i in info), dtype=np.int64, count=len(info))
    ok = np.fromiter((i[2] for i in info), dtype=bool, count=len(info))
    # dtype pinned: an EMPTY input would otherwise infer float64 and
    # break the boolean combine below
    valid_url = np.array([isinstance(v, str) for v in vals], dtype=bool)
    ok &= valid_url
    return pd.DataFrame(
        {
            "domain_hash": pd.array(np.where(ok, domain_hash, 0), dtype="Int64"),
            "url_hash": pd.array(np.where(ok, url_hash, 0), dtype="Int64"),
            "root_domain_hash": pd.array(np.where(ok, root_hash, 0), dtype="Int64"),
            "valid": ok,
        }
    )
