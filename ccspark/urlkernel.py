"""Byte-matrix URL canonicalization kernel.

Replaces the pandas ``.str`` regex chains of the old tier-2 path with
columnar numpy uint8 operations over a zero-padded byte matrix: one
LUT-OR pass classifies every row, per-row structural positions (scheme
end, authority end, port colon, last host dot, path semicolon) come from
argmax/cumsum tricks, all deletions (``www.``, default port, trailing
host dot, path-';' truncation) are encoded in a single keep-mask and
applied with one cumsum-scatter compaction, and the matrix converts back
to Python strings with a single C-level ``S→U`` cast.

Rows the kernel cannot prove it handles byte-identically to
``urls.canonicalize_url`` (percent-escapes, backslashes, fragments,
userinfo, dot-segments, IPv4-literal candidates, exotic ports, missing
path with query, non-ASCII, unusual schemes) fall back to the scalar
path — the kernel is a pure fast path, gated by batch-vs-scalar parity
tests (tests/test_urls.py, tests/test_urlkernel.py).

Semantics per reference URLUtils.canonicalizeURL (URLUtils.java:355-434)
+ SessionIDURLNormalizer; see ccspark.urls for the file:line map.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# rows per canonicalize_matrix call (and per urls.urlfp_batch hash
# chunk): the matrix pass allocates ~25 n×L temporaries, and chunks of
# this size keep them LLC-resident
CHUNK_ROWS = 8192

# flag bits from the classification LUT
_F_SLOW = 0x01   # % \ # " < > DEL, control/space bytes → scalar path
_F_UPPER = 0x02  # A-Z present (lowering may be needed)
_F_AT = 0x04     # '@' anywhere → scalar (userinfo / rare path use)
_F_SEMI = 0x08   # ';' present (possible path truncation)
_F_SID = 0x10    # unused in LUT (marker search is positional)

_LUT = np.zeros(256, dtype=np.uint8)
for _b in range(0x00, 0x21):
    # includes NUL: the S->U cast silently strips trailing NULs and the
    # scalar path %-escapes embedded ones, so NUL rows must fall back
    _LUT[_b] |= _F_SLOW
for _c in b'%\\#"<>':
    _LUT[_c] |= _F_SLOW
_LUT[0x7F] |= _F_SLOW
_LUT[ord("@")] |= _F_AT
_LUT[ord(";")] |= _F_SEMI
for _b in range(ord("A"), ord("Z") + 1):
    _LUT[_b] |= _F_UPPER

_HOST_OK = np.zeros(256, dtype=bool)
for _c in b"abcdefghijklmnopqrstuvwxyz0123456789.-_":
    _HOST_OK[_c] = True

_DIGIT = np.zeros(256, dtype=bool)
for _c in b"0123456789":
    _DIGIT[_c] = True

_DEFAULT_PORT = {b"http": 80, b"https": 443, b"ftp": 21}


def _contains(m: np.ndarray, pat: bytes) -> np.ndarray:
    """Row-wise fixed-pattern substring search over the byte matrix."""
    n, L = m.shape
    k = len(pat)
    if L < k:
        return np.zeros(n, dtype=bool)
    hit = m[:, : L - k + 1] == pat[0]
    for j in range(1, k):
        hit &= m[:, j : L - k + 1 + j] == pat[j]
    return hit.any(axis=1)


def canonicalize_matrix(
    values: list[str],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vector-canonicalize ascii URL strings.

    Returns (handled: bool[n], canonical: object[n], host: object[n]);
    unhandled rows must go through the scalar path.  ``host`` is the
    canonical (lowered, www-stripped) host for handled rows.
    """
    from . import urls as U

    n = len(values)
    handled = np.zeros(n, dtype=bool)
    canon = np.full(n, None, dtype=object)
    hosts = np.full(n, None, dtype=object)
    if n == 0:
        return handled, canon, hosts

    lens = np.fromiter((len(v) for v in values), dtype=np.int32, count=n)
    bs = np.array(values, dtype="S")
    L = bs.dtype.itemsize
    if L < 10:  # nothing handleable ("ftp://a.b/" is the shortest) —
        return handled, canon, hosts  # and the scheme slices assume L>=8
    M = bs.view(np.uint8).reshape(n, L)
    col = np.arange(L, dtype=np.int32)
    in_str = col[None, :] < lens[:, None]

    # classify ONLY the in-string bytes: the byte matrix is NUL-padded
    # to the chunk's max length and NUL is (deliberately) in the SLOW
    # class, so an unmasked reduce flags every row shorter than the
    # longest row in its chunk — which silently sent ~100% of real
    # batches down the scalar path (the kernel's entire point lost).
    lut = _LUT[M]
    lut[~in_str] = 0
    fl = np.bitwise_or.reduce(lut, axis=1)
    ok = (fl & (_F_SLOW | _F_AT)) == 0
    ok &= lens >= 10  # shortest handleable: "ftp://a.b/"

    # lowered copy (used for scheme/host/marker work)
    upper_mask = (M >= 65) & (M <= 90)
    low = np.where(upper_mask, M | 0x20, M)

    # scheme --------------------------------------------------------------
    sl = np.zeros(n, dtype=np.int32)
    is_http = (low[:, :7] == np.frombuffer(b"http://", dtype=np.uint8)).all(axis=1)
    is_https = (low[:, :8] == np.frombuffer(b"https://", dtype=np.uint8)).all(axis=1)
    is_ftp = (low[:, :6] == np.frombuffer(b"ftp://", dtype=np.uint8)).all(axis=1)
    is_https &= ~is_http
    sl[is_http] = 7
    sl[is_https] = 8
    sl[is_ftp] = 6
    ok &= is_http | is_https | is_ftp
    default_port = np.where(is_http, 80, np.where(is_https, 443, 21)).astype(np.int32)

    # authority span -------------------------------------------------------
    after = col[None, :] >= sl[:, None]
    slash_q = ((M == ord("/")) | (M == ord("?"))) & after & in_str
    has_end = slash_q.any(axis=1)
    aend = np.where(has_end, slash_q.argmax(axis=1), lens).astype(np.int32)
    ok &= aend > sl  # non-empty authority
    # extra '/' right after scheme ("http:///x") → scalar
    first_auth = np.take_along_axis(M, np.minimum(sl, L - 1)[:, None], axis=1)[:, 0]
    ok &= first_auth != ord("/")

    # port ------------------------------------------------------------------
    in_auth = after & (col[None, :] < aend[:, None])
    colon = (M == ord(":")) & in_auth
    n_colon = colon.sum(axis=1)
    ok &= n_colon <= 1
    has_port = n_colon == 1
    ppos = np.where(has_port, colon.argmax(axis=1), aend).astype(np.int32)
    plen = np.where(has_port, aend - ppos - 1, 0)
    ok &= ~has_port | ((plen >= 1) & (plen <= 5))
    # port digits + no leading zero
    in_port = (col[None, :] > ppos[:, None]) & (col[None, :] < aend[:, None])
    ok &= ~(in_port & ~_DIGIT[M]).any(axis=1)
    first_port = np.take_along_axis(M, np.minimum(ppos + 1, L - 1)[:, None], axis=1)[:, 0]
    ok &= ~has_port | (first_port != ord("0"))
    # numeric port value (≤5 digits)
    pval = np.zeros(n, dtype=np.int64)
    for k in range(5):
        pos = ppos + 1 + k
        valid = has_port & (pos < aend)
        d = np.take_along_axis(M, np.minimum(pos, L - 1)[:, None], axis=1)[:, 0] - ord("0")
        pval = np.where(valid, pval * 10 + d, pval)
    strip_port = has_port & ((pval == default_port) | (pval == 80))

    # host -----------------------------------------------------------------
    hend = ppos  # == aend when no port
    in_host = after & (col[None, :] < hend[:, None])
    ok &= ~(in_host & ~_HOST_OK[low]).any(axis=1)
    ok &= hend > sl
    # trailing dot (strip one; two → scalar)
    last_host = np.take_along_axis(low, np.maximum(hend - 1, 0)[:, None], axis=1)[:, 0]
    trail_dot = ok & (last_host == ord("."))
    penult = np.take_along_axis(low, np.maximum(hend - 2, 0)[:, None], axis=1)[:, 0]
    ok &= ~(trail_dot & (penult == ord(".")))
    hend_eff = np.where(trail_dot, hend - 1, hend)
    ok &= hend_eff > sl

    # IPv4-literal candidates → scalar (googleurl truncating semantics)
    dot_in_host = (low == ord(".")) & after & (col[None, :] < hend_eff[:, None])
    lastdot = np.where(
        dot_in_host.any(axis=1),
        L - 1 - dot_in_host[:, ::-1].argmax(axis=1),
        sl - 1,
    ).astype(np.int32)
    in_label = (col[None, :] > lastdot[:, None]) & (col[None, :] < hend_eff[:, None])
    label_nondigit = (in_label & ~_DIGIT[M]).any(axis=1)
    lbl0 = np.take_along_axis(low, np.minimum(lastdot + 1, L - 1)[:, None], axis=1)[:, 0]
    lbl1 = np.take_along_axis(low, np.minimum(lastdot + 2, L - 1)[:, None], axis=1)[:, 0]
    hex_form = (lbl0 == ord("0")) & (lbl1 == ord("x"))
    ip_cand = ~label_nondigit | hex_form  # numeric-ish last label
    # already-canonical dotted quads self-canonicalize under googleurl's
    # IP path (same acceptance the legacy pandas tier used), so they can
    # stay on the matrix path; every other IP-ish host → scalar.  Cheap
    # per-row regex over just the candidate rows (zipf IP hosts were
    # ~10% of links traffic — the dominant scalar residue).
    ip_fix = ok & ip_cand & ~trail_dot
    for i in np.flatnonzero(ip_fix):
        ip_fix[i] = (
            U._CANON_QUAD_RE.fullmatch(values[i][sl[i] : hend_eff[i]]) is not None
        )
    ok &= ~ip_cand | ip_fix

    # path/query structure ---------------------------------------------------
    at_aend = np.take_along_axis(M, np.minimum(aend, L - 1)[:, None], axis=1)[:, 0]
    has_path = has_end & (at_aend == ord("/"))
    no_path_no_query = aend == lens
    # "http://h?q" (query but no path) → scalar (needs a '/' insert mid-string)
    ok &= has_path | no_path_no_query
    # query position (needed for path-end dot checks too)
    qmark = (M == ord("?")) & after & in_str
    has_q = qmark.any(axis=1)
    qpos = np.where(has_q, qmark.argmax(axis=1), lens).astype(np.int32)
    # a trailing bare '?' (empty query) is dropped, like the scalar path
    empty_q = has_q & (qpos == lens - 1)

    # dot segments → scalar; the PATH (not the url) may end in '/.' or
    # '/..' with a query following, so check at the path end (qpos)
    ok &= ~(_contains(M, b"/./") | _contains(M, b"/../"))
    pe = qpos  # path end: qpos when a query exists, else lens
    tail1 = np.take_along_axis(M, np.maximum(pe - 1, 0)[:, None], axis=1)[:, 0]
    tail2 = np.take_along_axis(M, np.maximum(pe - 2, 0)[:, None], axis=1)[:, 0]
    tail3 = np.take_along_axis(M, np.maximum(pe - 3, 0)[:, None], axis=1)[:, 0]
    ends_dot = (tail1 == ord(".")) & (tail2 == ord("/"))
    ends_dotdot = (tail1 == ord(".")) & (tail2 == ord(".")) & (tail3 == ord("/"))
    ok &= ~(ends_dot | ends_dotdot)

    if not ok.any():
        return handled, canon, hosts
    semi = (M == ord(";")) & (col[None, :] >= aend[:, None]) & (col[None, :] < qpos[:, None])
    has_semi = semi.any(axis=1)
    semi_pos = np.where(has_semi, semi.argmax(axis=1), lens).astype(np.int32)

    # www strip via PSL over unique hosts --------------------------------------
    w = np.frombuffer(b"www.", dtype=np.uint8)
    www = ok & (
        np.take_along_axis(low, np.minimum(sl, L - 1)[:, None], axis=1)[:, 0] == w[0]
    )
    for j in range(1, 4):
        www &= (
            np.take_along_axis(low, np.minimum(sl + j, L - 1)[:, None], axis=1)[:, 0]
            == w[j]
        )
    www &= (hend_eff - sl) > 4

    # extract host strings (lowered, trailing dot removed) for handled rows
    idx_ok = np.flatnonzero(ok)
    hlen = (hend_eff - sl)[idx_ok]
    maxh = int(hlen.max()) if len(hlen) else 0
    gcol = np.minimum(sl[idx_ok, None] + np.arange(maxh, dtype=np.int32)[None, :], L - 1)
    H = np.take_along_axis(low[idx_ok], gcol, axis=1)
    H[np.arange(maxh)[None, :] >= hlen[:, None]] = 0
    host_bytes = H.reshape(len(idx_ok), maxh).view(f"S{max(maxh,1)}").ravel()
    host_str = host_bytes.astype(f"U{max(maxh,1)}")

    strip = np.zeros(len(idx_ok), dtype=bool)
    www_ok = www[idx_ok]
    if www_ok.any():
        uniq = np.unique(host_str[www_ok])
        strip_map = {}
        for h in uniq:
            root = U.extract_root_domain_name(str(h))
            strip_map[str(h)] = root is None or root != str(h)
        strip[www_ok] = np.fromiter(
            (strip_map[str(h)] for h in host_str[www_ok]), dtype=bool
        )

    # keep-mask assembly ---------------------------------------------------------
    keep = in_str.copy()
    # lower scheme+host (+ ':' + port digits — digits unaffected)
    OUT = np.where(col[None, :] < hend[:, None], low, M)
    # trailing host dot
    keep &= ~((col[None, :] == (hend_eff)[:, None]) & trail_dot[:, None] & (col[None, :] == (hend - 1)[:, None]))
    # (hend_eff == hend-1 exactly when trail_dot)
    # www. removal
    strip_full = np.zeros(n, dtype=bool)
    strip_full[idx_ok] = strip
    keep &= ~(
        strip_full[:, None]
        & (col[None, :] >= sl[:, None])
        & (col[None, :] < (sl + 4)[:, None])
    )
    # port removal (':' + digits)
    keep &= ~(
        strip_port[:, None]
        & (col[None, :] >= ppos[:, None])
        & (col[None, :] < aend[:, None])
    )
    # path ';'-tail removal (up to the query)
    keep &= ~(
        has_semi[:, None]
        & (col[None, :] >= semi_pos[:, None])
        & (col[None, :] < qpos[:, None])
    )
    # empty-query '?' removal
    keep &= ~(empty_q[:, None] & (col[None, :] == qpos[:, None]))

    # compact only the handled rows
    keep_ok = keep[idx_ok]
    OUT_ok = OUT[idx_ok]
    out_pos = np.cumsum(keep_ok, axis=1) - 1
    OUT2 = np.zeros((len(idx_ok), L + 1), dtype=np.uint8)
    rowidx = np.broadcast_to(np.arange(len(idx_ok))[:, None], keep_ok.shape)
    OUT2[rowidx[keep_ok], out_pos[keep_ok]] = OUT_ok[keep_ok]
    out_len = keep_ok.sum(axis=1).astype(np.int32)
    # append '/' where the path was empty
    need_slash = (no_path_no_query & ~has_end)[idx_ok] | (aend == lens)[idx_ok]
    OUT2[np.arange(len(idx_ok))[need_slash], out_len[need_slash]] = ord("/")

    out_bytes = OUT2.view(f"S{L + 1}").ravel()
    out_str = out_bytes.astype(f"U{L + 1}").astype(object)

    final_hosts = host_str.astype(object)
    if strip.any():
        for i in np.flatnonzero(strip):
            final_hosts[i] = final_hosts[i][4:]

    # session-id normalization on the (rare) marker rows.  The
    # normalizer can splice arbitrarily (even leaving the authority as
    # the string tail), so the host byproduct is re-derived from the
    # final string for exactly these rows.
    m_ok = M[idx_ok]
    low_ok = np.where((m_ok >= 65) & (m_ok <= 90), m_ok | 0x20, m_ok)
    sid_rows = _contains(low_ok, b"sid") | _contains(low_ok, b"sessi")
    if sid_rows.any():
        for i in np.flatnonzero(sid_rows):
            out_str[i] = U.session_id_normalize(out_str[i])
            final_hosts[i] = U.fast_get_host(out_str[i])

    handled[idx_ok] = True
    canon[idx_ok] = out_str
    hosts[idx_ok] = final_hosts
    return handled, canon, hosts


def canonicalize_batch_kernel(urls_series: pd.Series) -> tuple[pd.Series, pd.Series]:
    """Batch canonicalization: byte-matrix fast path + scalar residue.

    Returns (canonical, host) — host is None where canonical is None.
    """
    from . import urls as U

    vals = urls_series.to_numpy(dtype=object)
    n = len(vals)
    out = np.full(n, None, dtype=object)
    out_host = np.full(n, None, dtype=object)
    if n == 0:
        return (
            pd.Series(out, index=urls_series.index, dtype=object),
            pd.Series(out_host, index=urls_series.index, dtype=object),
        )
    eligible = np.fromiter(
        (isinstance(v, str) and len(v) < 4000 and v.isascii() for v in vals),
        dtype=bool,
        count=n,
    )
    idx_el = np.flatnonzero(eligible)
    if len(idx_el):
        # chunked: the matrix pass allocates ~25 n×L temporaries; sizing
        # n so they stay LLC-resident cuts DRAM traffic ~4× — the
        # resource K parallel workers actually contend on (the N→4N
        # scaling criterion).  Chunk-local width also shrinks padding:
        # one 4kB outlier URL no longer widens every row's matrix.
        rest_parts = []
        for s in range(0, len(idx_el), CHUNK_ROWS):
            sub = idx_el[s : s + CHUNK_ROWS]
            handled, canon, hosts = canonicalize_matrix([vals[i] for i in sub])
            out[sub] = canon
            out_host[sub] = hosts
            rest_parts.append(sub[~handled])
        rest = np.concatenate(rest_parts)
    else:
        rest = idx_el
    rest = np.concatenate([rest, np.flatnonzero(~eligible)])
    for i in rest:
        c = U.canonicalize_url(vals[i])
        out[i] = c
        out_host[i] = U.fast_get_host(c) if c is not None else None
    return (
        pd.Series(out, index=urls_series.index, dtype=object),
        pd.Series(out_host, index=urls_series.index, dtype=object),
    )
