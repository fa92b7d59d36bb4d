"""String-distance and base58 scalars with no Spark builtin, as
Arrow-batched pandas UDFs (SURVEY.md §2 B8 tail).

ClickHouse ships ``damerauLevenshteinDistance`` / ``jaroSimilarity`` /
``jaroWinklerSimilarity`` (byte-oriented DP metrics) and
``base58Encode`` / ``base58Decode`` (Bitcoin alphabet).  None of these
have a codegen spelling in Spark — ``levenshtein`` is the only builtin
edit metric — and the DPs are inherently per-pair scalar work, so the
right Spark shape is a *scalar pandas UDF*: Arrow moves the column
batches, Python computes the DP per element, and the work distributes
with the rows (no shuffle, no state).  At 100 TB the pattern that keeps
this cheap is vocabulary reduction first — dedupe the token/string
column (`groupBy`/`distinct`, shuffle scales with vocabulary not corpus)
and join the scored vocabulary back; see ``suite/q_text.py`` q225/q226.

Semantics follow ClickHouse's documented behavior:

- distances operate on the UTF-8 **bytes** of the input (ClickHouse's
  editDistance family is byte-oriented; the UTF8-suffixed variants are
  the codepoint ones), which also matches DuckDB's ASCII behavior so
  the DuckDB oracle can check end-to-end results.
- ``damerauLevenshteinDistance`` is the FULL Damerau-Levenshtein
  ("distance with adjacent transpositions", alphabet-table DP), not the
  cheaper optimal-string-alignment restriction: DL('CA','ABC') = 2.
  DuckDB's ``damerau_levenshtein`` agrees (probed: 2), so both engines
  compute the same function.
- ``jaroWinklerSimilarity`` applies the 0.1 prefix boost (prefix capped
  at 4) only when the Jaro similarity exceeds the standard 0.7
  threshold.
- NULL in -> NULL out; an empty input gives 0.0 similarity (strcmp95
  convention, matching DuckDB) and plain-length distance.
- inputs longer than ``MAX_BYTES`` raise loudly: the DPs are O(n*m) and
  ClickHouse enforces the same cap (max_string_size = 2^16) rather than
  silently burning CPU.

Registration: ``register_strdist(spark)`` is idempotent and cheap; it
is called from ``session.get_spark`` and from the suite queries that
emit these names, so both the DataFrame path and ``chsql.translate``
output (which renames the ClickHouse spellings to the ``ch_*``
registered names) resolve.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MAX_BYTES = 1 << 16  # ClickHouse max_string_size for the DP metrics

_B58_ALPHABET = b"123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_B58_INDEX = {c: i for i, c in enumerate(_B58_ALPHABET)}


def _as_bytes(s) -> bytes:
    return s.encode("utf-8") if isinstance(s, str) else bytes(s)


def _check_len(a: bytes, b: bytes, fn: str) -> None:
    if len(a) > MAX_BYTES or len(b) > MAX_BYTES:
        raise ValueError(
            f"{fn}: input exceeds {MAX_BYTES} bytes — the O(n*m) DP is "
            "capped like ClickHouse's max_string_size; pre-truncate or "
            "fingerprint long documents instead"
        )


def damerau_levenshtein(a, b) -> int:
    """Full Damerau-Levenshtein distance (adjacent-transposition DP
    with the alphabet table) over UTF-8 bytes."""
    a, b = _as_bytes(a), _as_bytes(b)
    _check_len(a, b, "damerauLevenshteinDistance")
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    inf = la + lb
    # (la+2) x (lb+2) DP with a sentinel row/col for the transposition
    # lookback; d[i+1][j+1] is the distance over prefixes a[:i], b[:j]
    d = [[inf] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    last_row = {}  # byte -> last row index where it occurred in a
    for i in range(1, la + 1):
        last_col = 0  # last column where b[j-1] == a[i-1] in this row
        for j in range(1, lb + 1):
            k = last_row.get(b[j - 1], 0)
            l = last_col
            if a[i - 1] == b[j - 1]:
                cost = 0
                last_col = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitute / match
                d[i + 1][j] + 1,  # insert
                d[i][j + 1] + 1,  # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transpose
            )
        last_row[a[i - 1]] = i
    return d[la + 1][lb + 1]


def jaro_similarity(a, b) -> float:
    """Jaro similarity over UTF-8 bytes (match window
    max(|a|,|b|)/2 - 1, floored transposition count — the original
    strcmp95 reference behavior, which DuckDB's vendored RapidFuzz
    implements too, so oracle comparisons are exact).  Either input
    empty -> 0.0 (also strcmp95/DuckDB; the both-empty corner is the
    one place a 1.0-returning implementation would differ)."""
    a, b = _as_bytes(a), _as_bytes(b)
    _check_len(a, b, "jaroSimilarity")
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(max(la, lb) // 2 - 1, 0)
    a_match = [False] * la
    b_match = [False] * lb
    matches = 0
    for i in range(la):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not b_match[j] and a[i] == b[j]:
                a_match[i] = True
                b_match[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    half_transpositions = 0
    j = 0
    for i in range(la):
        if a_match[i]:
            while not b_match[j]:
                j += 1
            if a[i] != b[j]:
                half_transpositions += 1
            j += 1
    t = half_transpositions // 2  # strcmp95 floors the half-count
    m = float(matches)
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler_similarity(a, b) -> float:
    """Jaro-Winkler: Jaro plus 0.1 * common-prefix (<=4) boost, applied
    only above the standard 0.7 threshold (ClickHouse and DuckDB both
    use this gate)."""
    sim = jaro_similarity(a, b)
    if sim <= 0.7:
        return sim
    ab, bb = _as_bytes(a), _as_bytes(b)
    prefix = 0
    for x, y in zip(ab[:4], bb[:4]):
        if x != y:
            break
        prefix += 1
    return sim + prefix * 0.1 * (1.0 - sim)


def base58_encode(data) -> str:
    """Base58 (Bitcoin alphabet) of the UTF-8 bytes; leading zero bytes
    become leading '1's, like ClickHouse base58Encode."""
    raw = _as_bytes(data)
    zeros = 0
    for byte in raw:
        if byte:
            break
        zeros += 1
    n = int.from_bytes(raw, "big")
    out = bytearray()
    while n:
        n, rem = divmod(n, 58)
        out.append(_B58_ALPHABET[rem])
    out.extend(b"1" * zeros)
    out.reverse()
    return out.decode("ascii")


def base58_decode(text) -> str:
    """Inverse of :func:`base58_encode`; raises on a character outside
    the Bitcoin alphabet (ClickHouse base58Decode throws too — the
    ``try`` spelling maps invalid input to NULL instead)."""
    s = text.encode("ascii") if isinstance(text, str) else bytes(text)
    n = 0
    for c in s:
        idx = _B58_INDEX.get(c)
        if idx is None:
            raise ValueError(
                f"base58Decode: invalid base58 character {chr(c)!r} — "
                "use tryBase58Decode for NULL-on-invalid"
            )
        n = n * 58 + idx
    zeros = 0
    for c in s:
        if c == _B58_ALPHABET[0]:
            zeros += 1
        else:
            break
    body = n.to_bytes((n.bit_length() + 7) // 8, "big") if n else b""
    return (b"\x00" * zeros + body).decode("utf-8", errors="replace")


def bit_slice(s, offset: int, length=None) -> bytes:
    """ClickHouse ``bitSlice(s, offset[, length])``: the substring of
    the value's BITS — 1-based bit offset, negative offset counts from
    the end, negative length leaves that many bits off the end, and a
    partial final byte is zero-padded on the right.  Returns bytes
    (Spark BINARY — an arbitrary bit pattern is not valid UTF-8, so
    the String return ClickHouse uses has no lossless Spark spelling;
    hex()/bin() the result to compare)."""
    data = _as_bytes(s)
    nbits = len(data) * 8
    if offset > 0:
        start = offset - 1
    elif offset < 0:
        start = nbits + offset
    else:
        start = 0  # 1-based; offset 0 reads like offset 1 (substring)
    if length is None:
        end = nbits
    elif length >= 0:
        end = start + length
    else:
        end = nbits + length
    start = max(0, min(start, nbits))
    end = max(start, min(end, nbits))
    width = end - start
    if width == 0:
        return b""
    n = int.from_bytes(data, "big")
    val = (n >> (nbits - end)) & ((1 << width) - 1)
    pad = (-width) % 8  # zero-fill the final partial byte's low bits
    val <<= pad
    return val.to_bytes((width + pad) // 8, "big")


def punycode_encode(s: str) -> str:
    """RFC 3492 punycode of the whole string (ClickHouse
    punycodeEncode: 'München' -> 'Mnchen-3ya') via the stdlib codec."""
    return s.encode("punycode").decode("ascii")


def punycode_decode(s: str) -> str:
    """Inverse of :func:`punycode_encode`; raises on malformed input
    (ClickHouse punycodeDecode throws too; the try spelling maps to
    NULL)."""
    try:
        return s.encode("ascii").decode("punycode")
    except (UnicodeDecodeError, UnicodeEncodeError) as exc:
        raise ValueError(
            f"punycodeDecode: not valid punycode ({s!r}) — use"
            " tryPunycodeDecode for NULL-on-invalid"
        ) from exc


def _idna():
    try:
        import idna
    except ImportError as exc:  # pragma: no cover - present in env
        raise NotImplementedError(
            "idnaEncode/idnaDecode need the 'idna' package (IDNA2008 +"
            " UTS46, matching ClickHouse's ada-idna); punycodeEncode/"
            "punycodeDecode cover the bare bootstring codec"
        ) from exc
    return idna


def idna_encode(s: str) -> str:
    """IDNA2008 + UTS46 ASCII form of a domain (ClickHouse idnaEncode:
    'straße.münchen.de' -> 'xn--strae-oqa.xn--mnchen-3ya.de' — the
    nontransitional mapping, NOT IDNA2003's 'strasse')."""
    if s == "":
        return ""
    idna = _idna()
    try:
        return idna.encode(s, uts46=True).decode("ascii")
    except idna.IDNAError as exc:
        raise ValueError(
            f"idnaEncode: invalid domain ({s!r}): {exc} — use"
            " tryIdnaEncode for NULL-on-invalid"
        ) from exc


def idna_decode(s: str) -> str:
    """Unicode form of an IDNA ASCII domain; invalid labels raise."""
    if s == "":
        return ""
    idna = _idna()
    try:
        return idna.decode(s)
    except idna.IDNAError as exc:
        raise ValueError(f"idnaDecode: invalid domain ({s!r}): {exc}") from exc


def _pairwise(fn, s1: pd.Series, s2: pd.Series, na):
    out = []
    for a, b in zip(s1, s2):
        out.append(na if a is None or b is None else fn(a, b))
    return out


@pandas_udf(LongType())
def _udf_damerau(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(_pairwise(damerau_levenshtein, s1, s2, None), dtype="object")


@pandas_udf(DoubleType())
def _udf_jaro(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(_pairwise(jaro_similarity, s1, s2, None), dtype="object")


@pandas_udf(DoubleType())
def _udf_jaro_winkler(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        _pairwise(jaro_winkler_similarity, s1, s2, None), dtype="object"
    )


def _unicode_normalize(form: str):
    import unicodedata

    def _n(v):
        return None if v is None else unicodedata.normalize(form, v)

    return _n


_HTML_STRIP = None


def extract_text_from_html(v: str) -> str:
    """ClickHouse ``extractTextFromHTML``: CDATA content kept verbatim,
    script/style elements and comments removed whole, every other tag
    dropped, whitespace runs collapsed to one space, ends trimmed.
    Entity references stay verbatim (ClickHouse does the same —
    decodeXMLComponent is the separate unescape step). Malformed-HTML
    corners may differ from CH's streaming parser; the documented
    contract (the corpus-cleaning role) is what is pinned in tests."""
    global _HTML_STRIP
    import re

    if _HTML_STRIP is None:
        _HTML_STRIP = (
            re.compile(r"<!\[CDATA\[(.*?)\]\]>", re.S),
            re.compile(r"<script\b.*?</script\s*>", re.S | re.I),
            re.compile(r"<style\b.*?</style\s*>", re.S | re.I),
            re.compile(r"<!--.*?-->", re.S),
            re.compile(r"<[^>]*>"),
            re.compile(r"\s+"),
        )
    cdata, script, style, comment, tag, ws = _HTML_STRIP
    stash: list[str] = []

    def _keep(m):
        stash.append(m.group(1))
        return f" \x00{len(stash) - 1}\x00 "

    # CDATA content is text VERBATIM — shield it from the tag pass
    v = cdata.sub(_keep, v)
    v = script.sub(" ", v)
    v = style.sub(" ", v)
    v = comment.sub(" ", v)
    v = tag.sub(" ", v)
    v = ws.sub(" ", v).strip()
    if stash:
        import re

        v = re.sub(
            "\x00(\\d+)\x00", lambda m: stash[int(m.group(1))], v
        )
    return v


_NORM_UDFS = {
    f"ch_normalize_{form.lower()}": pandas_udf(
        (lambda f: lambda s: s.map(_unicode_normalize(f)))(form),
        StringType(),
    )
    for form in ("NFC", "NFD", "NFKC", "NFKD")
}


@pandas_udf(StringType())
def _udf_extract_text_from_html(s: pd.Series) -> pd.Series:
    return s.map(
        lambda v: None if v is None else extract_text_from_html(v)
    )


@pandas_udf(StringType())
def _udf_base58_encode(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else base58_encode(v))


@pandas_udf(StringType())
def _udf_base58_decode(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else base58_decode(v))


@pandas_udf(StringType())
def _udf_try_base58_decode(s: pd.Series) -> pd.Series:
    def _try(v):
        if v is None:
            return None
        try:
            return base58_decode(v)
        except ValueError:
            return None

    return s.map(_try)


def base32_encode(data) -> str:
    """RFC 4648 base32 of the UTF-8 bytes, with '=' padding — the same
    codec ClickHouse base32Encode applies (probe batch 55)."""
    import base64

    return base64.b32encode(_as_bytes(data)).decode("ascii")


def base32_decode(text) -> str:
    """Inverse of :func:`base32_encode`; raises on invalid input like
    ClickHouse base32Decode (the ``try`` spelling maps to NULL)."""
    import base64
    import binascii

    s = text if isinstance(text, str) else bytes(text).decode("ascii")
    try:
        raw = base64.b32decode(s)
    except (binascii.Error, ValueError) as exc:
        raise ValueError(
            f"base32Decode: invalid base32 input {text!r} — use"
            " tryBase32Decode for NULL-on-invalid"
        ) from exc
    return raw.decode("utf-8", errors="replace")


@pandas_udf(StringType())
def _udf_base32_encode(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else base32_encode(v))


@pandas_udf(StringType())
def _udf_base32_decode(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else base32_decode(v))


@pandas_udf(StringType())
def _udf_try_base32_decode(s: pd.Series) -> pd.Series:
    def _try(v):
        if v is None:
            return None
        try:
            return base32_decode(v)
        except ValueError:
            return None

    return s.map(_try)


def ip_in_range(addr: str, cidr: str) -> int:
    """ClickHouse ``isIPAddressInRange(addr, prefix)``: 1 when the
    address (v4 or v6) falls inside the CIDR block, 0 otherwise —
    mixed families are 0, malformed input raises (CH throws too).
    Exact via the stdlib ipaddress module."""
    import ipaddress

    try:
        a = ipaddress.ip_address(addr)
        n = ipaddress.ip_network(cidr, strict=False)
    except ValueError as exc:
        raise ValueError(
            f"isIPAddressInRange: invalid address/CIDR"
            f" ({addr!r}, {cidr!r}): {exc}"
        ) from exc
    return int(a.version == n.version and a in n)


def ipv6_cidr_to_range(addr: str, prefix: int) -> tuple[str, str]:
    """ClickHouse ``IPv6CIDRToRange``: (lowest, highest) address of the
    block, RFC 5952 compressed text (CH renders the same form)."""
    import ipaddress

    try:
        net = ipaddress.IPv6Network((addr, int(prefix)), strict=False)
    except ValueError as exc:
        raise ValueError(
            f"IPv6CIDRToRange: invalid ({addr!r}, {prefix}): {exc}"
        ) from exc
    return net.network_address.compressed, net.broadcast_address.compressed


def ipv6_normalize(addr: str) -> str:
    """ClickHouse ``toIPv6``/``IPv6StringToNum`` text form: parse and
    re-render RFC 5952 compressed (CH renders the same); an IPv4
    string maps into ::ffff:a.b.c.d like CH.  Invalid input raises."""
    import ipaddress

    try:
        a = ipaddress.ip_address(addr)
    except ValueError as exc:
        raise ValueError(f"toIPv6: invalid address {addr!r}: {exc}") from exc
    if a.version == 4:
        a = ipaddress.IPv6Address(f"::ffff:{addr}")
    mapped = a.ipv4_mapped
    if mapped is not None:
        # CH keeps the dotted quad in the mapped form; Python's
        # .compressed would hex it (::ffff:c0a8:105)
        return f"::ffff:{mapped.compressed}"
    return a.compressed


def ipv6_to_num(addr: str) -> bytes:
    """ClickHouse ``IPv6StringToNum``: the 16-byte big-endian address
    (FixedString(16) in CH ≙ BINARY here); IPv4 input maps into
    ::ffff:a.b.c.d first like CH. Invalid input raises (the OrNull
    spelling rides try_mode)."""
    import ipaddress

    try:
        a = ipaddress.ip_address(addr)
    except ValueError as exc:
        raise ValueError(
            f"IPv6StringToNum: invalid address {addr!r}: {exc}"
        ) from exc
    if a.version == 4:
        a = ipaddress.IPv6Address(f"::ffff:{addr}")
    return a.packed


def ipv6_num_to_string(b) -> str:
    """ClickHouse ``IPv6NumToString``: render the 16-byte form RFC 5952
    compressed, keeping the dotted quad for ipv4-mapped addresses
    (same render rule as ipv6_normalize)."""
    import ipaddress

    a = ipaddress.IPv6Address(bytes(b))
    mapped = a.ipv4_mapped
    if mapped is not None:
        return f"::ffff:{mapped.compressed}"
    return a.compressed


def cut_ipv6(addr: str, bytes_v6: int, bytes_v4: int) -> str:
    """ClickHouse ``cutIPv6(x, bytesToCutForIPv6, bytesToCutForIPv4)``:
    zero the trailing N bytes — N chosen by whether the address is
    ipv4-mapped — and re-render."""
    import ipaddress

    a = ipaddress.ip_address(addr)
    if a.version == 4:
        a = ipaddress.IPv6Address(f"::ffff:{addr}")
    is4 = a.ipv4_mapped is not None
    cut = max(0, min(16, int(bytes_v4 if is4 else bytes_v6)))
    out = ipaddress.IPv6Address(a.packed[: 16 - cut] + b"\x00" * cut)
    mapped = out.ipv4_mapped
    if mapped is not None and is4:
        return f"::ffff:{mapped.compressed}"
    return out.compressed


def array_levenshtein(a, b) -> int:
    """ClickHouse ``arrayLevenshteinDistance``: plain Levenshtein DP
    over the element SEQUENCES (any element type; equality is the edit
    predicate).  Two rolling rows — O(len(a)*len(b)) per pair, row-local
    work that distributes with the rows."""
    a = list(a)
    b = list(b)
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, x in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, y in enumerate(b, 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (0 if x == y else 1),
            )
        prev = cur
    return prev[-1]


def _mapper(fn, try_mode=False):
    def _one(v):
        if v is None:
            return None
        if try_mode:
            try:
                return fn(v)
            except ValueError:
                return None
        return fn(v)

    return lambda s: s.map(_one)


_udf_punycode_encode = pandas_udf(_mapper(punycode_encode), StringType())
_udf_punycode_decode = pandas_udf(_mapper(punycode_decode), StringType())
_udf_try_punycode_decode = pandas_udf(
    _mapper(punycode_decode, try_mode=True), StringType()
)
_udf_ipv6_normalize = pandas_udf(_mapper(ipv6_normalize), StringType())
_udf_try_ipv6_normalize = pandas_udf(
    _mapper(ipv6_normalize, try_mode=True), StringType()
)
_udf_ipv6_to_num = pandas_udf(_mapper(ipv6_to_num), BinaryType())
_udf_try_ipv6_to_num = pandas_udf(
    _mapper(ipv6_to_num, try_mode=True), BinaryType()
)
_udf_ipv6_num_to_string = pandas_udf(
    _mapper(ipv6_num_to_string), StringType()
)


@pandas_udf(StringType())
def _udf_cut_ipv6(
    addr: pd.Series, b6: pd.Series, b4: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            None if a is None or x6 is None or x4 is None
            else cut_ipv6(a, x6, x4)
            for a, x6, x4 in zip(addr, b6, b4)
        ],
        dtype="object",
    )
_udf_idna_encode = pandas_udf(_mapper(idna_encode), StringType())
_udf_idna_decode = pandas_udf(_mapper(idna_decode), StringType())
_udf_try_idna_encode = pandas_udf(
    _mapper(idna_encode, try_mode=True), StringType()
)


@pandas_udf(LongType())
def _udf_ip_in_range(addr: pd.Series, cidr: pd.Series) -> pd.Series:
    return pd.Series(_pairwise(ip_in_range, addr, cidr, None), dtype="object")


@pandas_udf(LongType())
def _udf_array_levenshtein(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        _pairwise(array_levenshtein, a, b, None), dtype="object"
    )


def _ipv6_range_frame(addr: pd.Series, prefix: pd.Series) -> pd.DataFrame:
    lows, highs = [], []
    for a, p in zip(addr, prefix):
        if a is None or p is None:
            lows.append(None)
            highs.append(None)
        else:
            lo, hi = ipv6_cidr_to_range(a, p)
            lows.append(lo)
            highs.append(hi)
    return pd.DataFrame({"col1": lows, "col2": highs})


_udf_ipv6_cidr_to_range = pandas_udf(
    _ipv6_range_frame,
    StructType(
        [
            StructField("col1", StringType()),
            StructField("col2", StringType()),
        ]
    ),
)


@pandas_udf(BinaryType())
def _udf_bit_slice(
    s: pd.Series, offset: pd.Series, length: pd.Series
) -> pd.Series:
    out = []
    # a NULL in an integer column arrives as NaN (the 2-arg bitSlice
    # spelling pads a NULL length)
    for v, o, n in zip(s, offset, length):
        if v is None or pd.isna(o):
            out.append(None)
        else:
            out.append(bit_slice(v, int(o), None if pd.isna(n) else int(n)))
    return pd.Series(out, dtype="object")


_REGISTRY = {
    "ch_damerau_levenshtein": _udf_damerau,
    "ch_jaro_similarity": _udf_jaro,
    "ch_jaro_winkler": _udf_jaro_winkler,
    "ch_base58_encode": _udf_base58_encode,
    "ch_base58_decode": _udf_base58_decode,
    "ch_try_base58_decode": _udf_try_base58_decode,
    "ch_base32_encode": _udf_base32_encode,
    "ch_base32_decode": _udf_base32_decode,
    "ch_try_base32_decode": _udf_try_base32_decode,
    "ch_bit_slice": _udf_bit_slice,
    "ch_punycode_encode": _udf_punycode_encode,
    "ch_punycode_decode": _udf_punycode_decode,
    "ch_try_punycode_decode": _udf_try_punycode_decode,
    "ch_idna_encode": _udf_idna_encode,
    "ch_idna_decode": _udf_idna_decode,
    "ch_try_idna_encode": _udf_try_idna_encode,
    "ch_extract_text_from_html": _udf_extract_text_from_html,
    **_NORM_UDFS,
    "ch_ip_in_range": _udf_ip_in_range,
    "ch_ipv6_normalize": _udf_ipv6_normalize,
    "ch_try_ipv6_normalize": _udf_try_ipv6_normalize,
    "ch_ipv6_to_num": _udf_ipv6_to_num,
    "ch_try_ipv6_to_num": _udf_try_ipv6_to_num,
    "ch_ipv6_num_to_string": _udf_ipv6_num_to_string,
    "ch_cut_ipv6": _udf_cut_ipv6,
    "ch_array_levenshtein": _udf_array_levenshtein,
    "ch_ipv6_cidr_to_range": _udf_ipv6_cidr_to_range,
}


def register_strdist(spark: SparkSession) -> None:
    """Idempotently register the ``ch_*`` SQL names on this session so
    ``chsql.translate`` output resolves (the dialect renames the
    ClickHouse spellings to these)."""
    for name, udf in _REGISTRY.items():
        spark.udf.register(name, udf)
