"""From-scratch PDF text + layout extraction (stdlib only).

The reference (lightfeed/extractor) has no PDF analog — this module exists
because the build's north rule names "PDF/layout parse" as part of the
main-content extraction pipeline.  Semantics are defined by the public PDF
spec (ISO 32000-1 / Adobe PDF 1.7): COS object syntax (§7.3), filters
(§7.4), page tree (§7.7.3), content streams and text operators (§9.4), and
ToUnicode CMaps (§9.10.3).  Nothing here is derived from the reference repo.

Design constraints:

- **Lenient by construction.**  Real crawl PDFs have broken xref tables,
  wrong /Length values, and garbage between objects.  We never trust the
  xref: objects are discovered by a full-buffer scan for ``N G obj``
  (later definitions win, matching incremental-update semantics), object
  streams (/Type /ObjStm) are expanded afterwards, and stream extents fall
  back to searching for ``endstream`` when /Length lies.
- **Pure Python + zlib**, no third-party parser: the sandbox has no
  pypdf/pdfminer, and the engine/ layer must stay dependency-free so the
  Spark stage ships it with --py-files.
- **Layout-aware assembly**: glyph runs carry device-space (x, y) from the
  full Tm × CTM transform; lines are grouped by baseline, a vertical
  gutter detector splits two-column pages into left-then-right reading
  order, and blank lines are re-inferred from baseline gaps that are
  integer multiples of the dominant leading.

Scale shape: one document per call, no global state — the Spark side maps
this over Arrow batches (the convert stage routes PDF payloads here); the
per-task cost is CPU-bound Python, which is exactly what the pipeline's
explicit pre-UDF repartition is for.
"""

from __future__ import annotations

import re
import zlib
from typing import Any, Iterator, Optional


# ---------------------------------------------------------------------------
# COS object model
# ---------------------------------------------------------------------------

class Name(str):
    """A PDF name token (/Foo) — distinct from a string value."""
    __slots__ = ()


class Ref:
    """Indirect reference ``num gen R``."""
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int) -> None:
        self.num = num
        self.gen = gen

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Ref({self.num},{self.gen})"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Ref) and (self.num, self.gen) == (other.num, other.gen)

    def __hash__(self) -> int:
        return hash((self.num, self.gen))


class Stream:
    """A stream object: its dict plus raw (still-encoded) bytes."""
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict = d
        self.raw = raw


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_OBJ_RE = re.compile(rb"(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+obj\b")
_KEYWORD_RE = re.compile(rb"[A-Za-z]+")


def _skip_ws(buf: bytes, pos: int) -> int:
    n = len(buf)
    while pos < n:
        c = buf[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # '%' comment runs to EOL
            while pos < n and buf[pos] not in (0x0A, 0x0D):
                pos += 1
        else:
            break
    return pos


def _parse_literal_string(buf: bytes, pos: int) -> tuple[bytes, int]:
    # pos is at the opening '('.  PDF §7.3.4.2: balanced parens, \-escapes.
    out = bytearray()
    depth = 1
    pos += 1
    n = len(buf)
    while pos < n:
        c = buf[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = buf[pos]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                pos += 1
            elif e in b"()\\":
                out.append(e)
                pos += 1
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                val = 0
                k = 0
                while k < 3 and pos < n and 0x30 <= buf[pos] <= 0x37:
                    val = val * 8 + (buf[pos] - 0x30)
                    pos += 1
                    k += 1
                out.append(val & 0xFF)
            elif e == 0x0A:
                pos += 1  # line continuation
            elif e == 0x0D:
                pos += 1
                if pos < n and buf[pos] == 0x0A:
                    pos += 1
            else:
                out.append(e)
                pos += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    return bytes(out), pos  # unterminated: tolerate


def _parse_hex_string(buf: bytes, pos: int) -> tuple[bytes, int]:
    # pos at '<' (not '<<').  Odd final digit is padded with 0 (§7.3.4.3).
    end = buf.find(b">", pos)
    if end < 0:
        end = len(buf)
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", buf[pos + 1:end])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")), end + 1


def _parse_name(buf: bytes, pos: int) -> tuple[Name, int]:
    pos += 1  # '/'
    n = len(buf)
    start = pos
    while pos < n and buf[pos] not in _WS and buf[pos] not in _DELIM:
        pos += 1
    raw = buf[start:pos]
    # #xx escapes (§7.3.5)
    if b"#" in raw:
        raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                     lambda m: bytes([int(m.group(1), 16)]), raw)
    return Name(raw.decode("latin-1")), pos


def parse_object(buf: bytes, pos: int) -> tuple[Any, int]:
    """Parse one COS object at pos; returns (object, next_pos)."""
    pos = _skip_ws(buf, pos)
    if pos >= len(buf):
        raise ValueError("EOF")
    c = buf[pos]
    if c == 0x2F:  # /Name
        return _parse_name(buf, pos)
    if c == 0x28:  # (string)
        return _parse_literal_string(buf, pos)
    if c == 0x3C:
        if buf[pos:pos + 2] == b"<<":
            return _parse_dict(buf, pos)
        return _parse_hex_string(buf, pos)
    if c == 0x5B:  # [array]
        pos += 1
        arr: list[Any] = []
        while True:
            pos = _skip_ws(buf, pos)
            if pos >= len(buf) or buf[pos] == 0x5D:
                return arr, pos + 1
            obj, pos = parse_object(buf, pos)
            arr.append(obj)
    if buf.startswith(b"true", pos):
        return True, pos + 4
    if buf.startswith(b"false", pos):
        return False, pos + 5
    if buf.startswith(b"null", pos):
        return None, pos + 4
    m = _NUM_RE.match(buf, pos)
    if m:
        tok = m.group()
        after = _skip_ws(buf, m.end())
        # "N G R" indirect reference lookahead
        m2 = _NUM_RE.match(buf, after)
        if m2 and b"." not in tok and b"-" not in tok:
            after2 = _skip_ws(buf, m2.end())
            if buf.startswith(b"R", after2) and (
                after2 + 1 >= len(buf)
                or buf[after2 + 1] in _WS or buf[after2 + 1] in _DELIM
            ):
                return Ref(int(tok), int(m2.group())), after2 + 1
        if b"." in tok:
            return float(tok), m.end()
        return int(tok), m.end()
    # lenient: a bare keyword where an object is expected (corrupt arrays /
    # dict values in real crawl PDFs) parses as null instead of aborting the
    # enclosing object — but NOT at 'endobj'/'stream' boundaries, which must
    # stay hard stops so dict parsing cannot swallow the stream keyword
    mk = _KEYWORD_RE.match(buf, pos)
    if mk and mk.group() not in (b"endobj", b"stream", b"endstream"):
        return None, mk.end()
    raise ValueError(f"unparseable object at {pos}: {buf[pos:pos+20]!r}")


def _parse_dict(buf: bytes, pos: int) -> tuple[dict, int]:
    pos += 2  # '<<'
    d: dict[str, Any] = {}
    while True:
        pos = _skip_ws(buf, pos)
        if buf.startswith(b">>", pos):
            return d, pos + 2
        if pos >= len(buf):
            return d, pos  # tolerate truncation
        key, pos = parse_object(buf, pos)
        if not isinstance(key, Name):
            # garbage key: skip one value and carry on
            try:
                _, pos = parse_object(buf, pos)
            except ValueError:
                return d, pos
            continue
        val, pos = parse_object(buf, pos)
        d[str(key)] = val


# ---------------------------------------------------------------------------
# Document loader
# ---------------------------------------------------------------------------

def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    """Reverse PNG row filters (RFC 2083 §6) as used by PDF Predictor ≥ 10:
    each row is a filter-type byte followed by `rowlen` filtered bytes."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = max(1, (columns * colors * bpc + 7) // 8)
    if rowlen > len(data):
        # hostile /Columns (a row longer than the whole stream) would
        # allocate rowlen-sized buffers and loop rowlen times per row —
        # a tiny crafted PDF must not cost GBs/hours; pass through instead
        return data
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    n = len(data)
    while pos < n:
        ft = data[pos]
        pos += 1
        row = bytearray(data[pos:pos + rowlen])
        pos += rowlen
        if len(row) < rowlen:
            row.extend(b"\x00" * (rowlen - len(row)))  # truncated: tolerate
        if ft == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        # ft == 0 (None) or unknown: pass through
        out += row
        prev = row
    return bytes(out)


def _tiff_unpredict(data: bytes, columns: int, colors: int) -> bytes:
    """Reverse TIFF Predictor 2 (horizontal differencing, 8-bit samples)."""
    rowlen = max(1, columns * colors)
    if rowlen > len(data):
        return data
    out = bytearray(data)
    for start in range(0, len(out), rowlen):
        end = min(start + rowlen, len(out))
        for i in range(start + colors, end):
            out[i] = (out[i] + out[i - colors]) & 0xFF
    return bytes(out)


class PdfDocument:
    def __init__(self, objects: dict[int, Any]) -> None:
        self.objects = objects

    # -- construction --------------------------------------------------

    @classmethod
    def load(cls, data: bytes) -> "PdfDocument":
        objects: dict[int, Any] = {}
        direct: set[int] = set()
        for m in _OBJ_RE.finditer(data):
            num = int(m.group(1))
            try:
                obj, pos = parse_object(data, m.end())
            except ValueError:
                continue
            if isinstance(obj, dict):
                pos2 = _skip_ws(data, pos)
                if data.startswith(b"stream", pos2):
                    pos2 += 6
                    if data[pos2:pos2 + 2] == b"\r\n":
                        pos2 += 2
                    elif pos2 < len(data) and data[pos2] in (0x0A, 0x0D):
                        pos2 += 1
                    raw = cls._stream_extent(data, pos2, obj)
                    obj = Stream(obj, raw)
            if obj is None:
                # lenient-keyword garbage (or literal null): storing it
                # would clobber an earlier VALID definition under
                # later-wins — treat as absent instead
                continue
            objects[num] = obj  # later definition wins (incremental update)
            direct.add(num)
        doc = cls(objects)
        doc._expand_object_streams(direct)
        return doc

    @staticmethod
    def _stream_extent(data: bytes, start: int, d: dict) -> bytes:
        length = d.get("Length")
        if isinstance(length, int):
            end = start + length
            # trust /Length only if endstream follows with nothing but EOL
            # slack (≤2 bytes) — 'endstream' merely NEAR the end would
            # accept lengths short by up to the probe width
            j = end
            while j < len(data) and j - end < 2 and data[j] in (0x0A, 0x0D):
                j += 1
            if data.startswith(b"endstream", j):
                return data[start:end]
        end = data.find(b"endstream", start)
        if end < 0:
            return data[start:]
        # strip the EOL that precedes endstream
        raw = data[start:end]
        if raw.endswith(b"\r\n"):
            raw = raw[:-2]
        elif raw.endswith((b"\n", b"\r")):
            raw = raw[:-1]
        return raw

    def _expand_object_streams(self, direct: set[int]) -> None:
        for num in list(self.objects):
            obj = self.objects[num]
            if not (isinstance(obj, Stream) and obj.dict.get("Type") == Name("ObjStm")):
                continue
            try:
                payload = self.stream_data(obj)
                n = int(self.resolve(obj.dict.get("N", 0)))
                first = int(self.resolve(obj.dict.get("First", 0)))
            except Exception:
                continue
            header = payload[:first]
            pairs: list[tuple[int, int]] = []
            toks = re.findall(rb"\d+", header)
            for i in range(0, min(len(toks), 2 * n) - 1, 2):
                pairs.append((int(toks[i]), int(toks[i + 1])))
            for onum, off in pairs:
                if onum in direct:
                    continue  # a directly-scanned (possibly newer) copy wins
                try:
                    inner, _ = parse_object(payload, first + off)
                except ValueError:
                    continue
                self.objects[onum] = inner

    # -- access --------------------------------------------------------

    def resolve(self, obj: Any) -> Any:
        seen = 0
        while isinstance(obj, Ref):
            obj = self.objects.get(obj.num)
            seen += 1
            if seen > 32:
                return None
        return obj

    def stream_data(self, st: Stream) -> bytes:
        """Apply /Filter chain.  Supports FlateDecode (incl. PNG
        predictors via /DecodeParms) + ASCIIHexDecode."""
        data = st.raw
        filt = self.resolve(st.dict.get("Filter"))
        if filt is None:
            return data
        filters = filt if isinstance(filt, list) else [filt]
        parms = self.resolve(st.dict.get("DecodeParms") or st.dict.get("DP"))
        parms_list = list(parms) if isinstance(parms, list) else [parms] * len(filters)
        if len(parms_list) < len(filters):
            # malformed short /DecodeParms array: zip truncation would
            # silently SKIP later filters — pad instead
            parms_list += [None] * (len(filters) - len(parms_list))
        for f, pm in zip(filters, parms_list):
            f = str(self.resolve(f))
            if f in ("FlateDecode", "Fl"):
                try:
                    data = zlib.decompress(data)
                except zlib.error:
                    # tolerate trailing garbage / missing checksum
                    data = zlib.decompressobj().decompress(data)
                pm = self.resolve(pm)
                if isinstance(pm, dict):
                    pred = self.resolve(pm.get("Predictor", 1)) or 1
                    if isinstance(pred, (int, float)):
                        cols = int(self.resolve(pm.get("Columns", 1)) or 1)
                        colors = int(self.resolve(pm.get("Colors", 1)) or 1)
                        bpc = int(self.resolve(pm.get("BitsPerComponent", 8)) or 8)
                        if pred >= 10:
                            data = _png_unpredict(data, cols, colors, bpc)
                        elif pred == 2 and bpc == 8:
                            data = _tiff_unpredict(data, cols, colors)
                        # pred == 2 with sub-byte samples: not seen in
                        # crawl PDFs; left encoded (lenient pass-through)
            elif f in ("ASCIIHexDecode", "AHx"):
                hx = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
                if len(hx) % 2:
                    hx += b"0"
                data = bytes.fromhex(hx.decode("ascii"))
            else:
                raise ValueError(f"unsupported filter {f}")
        return data

    # -- page tree -----------------------------------------------------

    def catalog(self) -> Optional[dict]:
        for obj in self.objects.values():
            d = obj.dict if isinstance(obj, Stream) else obj
            if isinstance(d, dict) and d.get("Type") == Name("Catalog"):
                return d
        return None

    def pages(self) -> list[dict]:
        """Leaf page dicts in tree order, with /Resources inherited."""
        cat = self.catalog()
        out: list[dict] = []
        root = self.resolve(cat.get("Pages")) if cat else None

        def walk(node: Any, inherited: Optional[dict], depth: int) -> None:
            node = self.resolve(node)
            if isinstance(node, Stream):
                node = node.dict
            if not isinstance(node, dict) or depth > 64:
                return
            res = self.resolve(node.get("Resources")) or (
                inherited.get("Resources") if inherited else None
            )
            rot = node.get("Rotate")
            if rot is None and inherited:
                rot = inherited.get("Rotate")
            if node.get("Type") == Name("Page"):
                page = dict(node)
                if res is not None:
                    page["Resources"] = res
                if rot is not None and "Rotate" not in page:
                    page["Rotate"] = rot  # /Rotate inherits like /Resources
                out.append(page)
                return
            for kid in self.resolve(node.get("Kids")) or []:
                walk(kid, {"Resources": res, "Rotate": rot}, depth + 1)

        if root is not None:
            walk(root, None, 0)
        if not out:  # no catalog/tree (corrupt): take any /Type /Page object
            for obj in self.objects.values():
                if isinstance(obj, dict) and obj.get("Type") == Name("Page"):
                    out.append(obj)
        return out


# ---------------------------------------------------------------------------
# Fonts: code width + byte→unicode decoding
# ---------------------------------------------------------------------------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_BFRANGE_ENTRY_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\[[^\]]*\]|<[0-9A-Fa-f]+>)"
)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)


def _utf16be(hx: bytes) -> str:
    b = bytes.fromhex(hx.decode("ascii"))
    if len(b) % 2:
        b += b"\x00"
    return b.decode("utf-16-be", "replace")


def _safe_float(v, default: float = 0.0) -> float:
    """float() that treats unconvertible/overflowing values as default
    (huge literals in corrupt PDFs raise OverflowError)."""
    try:
        f = float(v)
    except (TypeError, ValueError, OverflowError):
        return default
    return f if f == f and abs(f) != float("inf") else default


class FontInfo:
    """Per-font decode state: code byte-width, cmap, widths."""

    __slots__ = ("nbytes", "cmap", "simple_enc", "widths", "first_char",
                 "default_width", "cid_widths", "_pair_cache")

    def __init__(self) -> None:
        self.nbytes = 1
        self.cmap: dict[int, str] = {}
        self.simple_enc = "cp1252"  # WinAnsi ≈ cp1252; Standard close enough
        self.widths: list[float] = []
        self.first_char = 0
        self.default_width = 500.0
        self.cid_widths: dict[int, float] = {}  # Type0 /W entries
        # lazily created on first decode (after load_font has populated
        # cmap/widths); code -> (text, width)
        self._pair_cache: dict[int, tuple[str, float]] | None = None

    def decode(self, raw: bytes) -> list[tuple[str, float]]:
        """→ [(unicode_text, width_1000ths)] per code.

        Per-code (text, width) pairs are memoized per font: fonts are fully
        populated by load_font before any decode, and a page reuses a small
        glyph set hundreds of times, so every repeat becomes one dict hit
        (and the result tuples are shared, not reallocated)."""
        out: list[tuple[str, float]] = []
        pair = self._pair_cache
        if pair is None:
            pair = self._pair_cache = {}
        if self.nbytes == 2:
            if len(raw) % 2:
                raw = raw[:-1]
            for i in range(0, len(raw), 2):
                code = (raw[i] << 8) | raw[i + 1]
                p = pair.get(code)
                if p is None:
                    p = pair[code] = (self.cmap.get(code, ""), self._width(code))
                out.append(p)
        else:
            for b in raw:
                p = pair.get(b)
                if p is None:
                    if b in self.cmap:
                        p = (self.cmap[b], self._width(b))
                    else:
                        p = (
                            bytes([b]).decode(self.simple_enc, "replace"),
                            self._width(b),
                        )
                    pair[b] = p
                out.append(p)
        return out

    def _width(self, code: int) -> float:
        w = self.cid_widths.get(code)
        if w is not None:
            return w
        i = code - self.first_char
        if 0 <= i < len(self.widths):
            return self.widths[i]
        return self.default_width


def load_font(doc: PdfDocument, font_obj: Any) -> FontInfo:
    fi = FontInfo()
    d = doc.resolve(font_obj)
    if isinstance(d, Stream):
        d = d.dict
    if not isinstance(d, dict):
        return fi
    subtype = d.get("Subtype")
    enc = doc.resolve(d.get("Encoding"))
    if subtype == Name("Type0") or enc in (Name("Identity-H"), Name("Identity-V")):
        fi.nbytes = 2
    tu = doc.resolve(d.get("ToUnicode"))
    if isinstance(tu, Stream):
        try:
            cmap_src = doc.stream_data(tu)
        except Exception:
            cmap_src = b""
        _parse_tounicode(cmap_src, fi)
    if isinstance(enc, Name) and "WinAnsi" not in str(enc) and "Identity" not in str(enc):
        if "MacRoman" in str(enc):
            fi.simple_enc = "mac-roman"
    w = doc.resolve(d.get("Widths"))
    if isinstance(w, list):
        fi.widths = [_safe_float(doc.resolve(x)) for x in w]
        fi.first_char = int(doc.resolve(d.get("FirstChar")) or 0)
    # Type0 width default lives on the descendant font (/DW); single sweep
    desc = doc.resolve(d.get("DescendantFonts"))
    if isinstance(desc, list) and desc:
        d0 = doc.resolve(desc[0])
        if isinstance(d0, dict) and "DW" in d0:
            try:
                fi.default_width = float(doc.resolve(d0["DW"]))
            except (TypeError, ValueError, OverflowError):
                pass
        if isinstance(d0, dict):
            _parse_cid_w(doc, d0.get("W"), fi)
    return fi


def _parse_cid_w(doc: PdfDocument, w_obj: Any, fi: FontInfo) -> None:
    """CIDFont /W array (§9.7.4.3), two entry forms interleaved:
    ``c [w1 w2 ...]`` (widths for CIDs c, c+1, ...) and
    ``cfirst clast w`` (one width for a CID range)."""
    w = doc.resolve(w_obj)
    if not isinstance(w, list):
        return
    i = 0
    n = len(w)
    while i < n:
        try:
            first = int(doc.resolve(w[i]))
        except (TypeError, ValueError, OverflowError):
            return
        if i + 1 < n and isinstance(doc.resolve(w[i + 1]), list):
            for k, wk in enumerate(doc.resolve(w[i + 1])):
                try:
                    fi.cid_widths[first + k] = float(doc.resolve(wk))
                except (TypeError, ValueError, OverflowError):
                    pass
            i += 2
        elif i + 2 < n:
            try:
                last = int(doc.resolve(w[i + 1]))
                width = float(doc.resolve(w[i + 2]))
            except (TypeError, ValueError, OverflowError):
                return
            if last - first <= 65536:
                for c in range(first, last + 1):
                    fi.cid_widths[c] = width
            i += 3
        else:
            return


def _parse_tounicode(src: bytes, fi: FontInfo) -> None:
    for m in _CODESPACE_RE.finditer(src):
        for hx in _HEX_RE.findall(m.group(1)):
            fi.nbytes = max(fi.nbytes, len(hx) // 2)
            break
    for m in _BFCHAR_RE.finditer(src):
        toks = _HEX_RE.findall(m.group(1))
        for i in range(0, len(toks) - 1, 2):
            code = int(toks[i], 16)
            fi.cmap[code] = _utf16be(toks[i + 1])
    for m in _BFRANGE_RE.finditer(src):
        body = m.group(1)
        # two forms: <lo> <hi> <dst>   |   <lo> <hi> [<dst> <dst> ...]
        pos = 0
        while True:
            mm = _BFRANGE_ENTRY_RE.search(body, pos)
            if not mm:
                break
            lo, hi = int(mm.group(1), 16), int(mm.group(2), 16)
            dst = mm.group(3)
            if dst.startswith(b"["):
                dsts = _HEX_RE.findall(dst)
                for k, dh in enumerate(dsts):
                    if lo + k > hi:
                        break
                    fi.cmap[lo + k] = _utf16be(dh)
            else:
                base_hex = dst.strip(b"<>")
                base = int(base_hex, 16)
                nchars = max(1, len(base_hex) // 4)
                for k in range(hi - lo + 1):
                    if nchars == 1:
                        fi.cmap[lo + k] = chr(base + k)
                    else:  # multi-char dst: only the last UTF-16 unit increments
                        s = _utf16be(base_hex)
                        fi.cmap[lo + k] = s[:-1] + chr(ord(s[-1]) + k)
            pos = mm.end()


# ---------------------------------------------------------------------------
# Content-stream text interpreter
# ---------------------------------------------------------------------------

class Run:
    """One positioned text run in device space."""
    __slots__ = ("x", "y", "size", "text", "x_end", "link")

    def __init__(self, x: float, y: float, size: float, text: str, x_end: float) -> None:
        self.x = x
        self.y = y
        self.size = size
        self.text = text
        self.x_end = x_end
        self.link: Optional[str] = None


def _mat_mul(a: tuple, b: tuple) -> tuple:
    # PDF matrices are [a b c d e f] row-major for (x y 1) row vectors
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

# EI delimited by whitespace before and ws/delim/EOF after (inline images)
_INLINE_IMG_END = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r /<>\[\](){}%]|$)")


def _content_tokens(buf: bytes) -> Iterator[Any]:
    """Yield COS objects and operator strings from a content stream."""
    pos = 0
    n = len(buf)
    while True:
        pos = _skip_ws(buf, pos)
        if pos >= n:
            return
        c = buf[pos]
        if c == 0x2F or c == 0x28 or c == 0x3C or c == 0x5B or c == 0x2B or c == 0x2D or c == 0x2E or 0x30 <= c <= 0x39:
            try:
                obj, pos = parse_object(buf, pos)
            except ValueError:
                pos += 1
                continue
            yield obj
        elif c == 0x5D or c == 0x3E or c == 0x7B or c == 0x7D:
            pos += 1  # stray delimiters
        else:
            start = pos
            while pos < n and buf[pos] not in _WS and buf[pos] not in _DELIM:
                pos += 1
            op = buf[start:pos].decode("latin-1")
            if op == "BI":
                # inline image (§8.9.7): skip to EI — but only an EI that is
                # whitespace-delimited on both sides, else the 2-byte
                # sequence INSIDE the binary image data ends the skip early
                # and garbage is lexed as operators
                m = _INLINE_IMG_END.search(buf, pos)
                pos = n if m is None else m.end()
                continue
            yield ("op", op)


def extract_runs(doc: PdfDocument, page: dict) -> list[Run]:
    contents = doc.resolve(page.get("Contents"))
    chunks: list[bytes] = []
    for c in (contents if isinstance(contents, list) else [contents]):
        c = doc.resolve(c)
        if isinstance(c, Stream):
            try:
                chunks.append(doc.stream_data(c))
            except Exception:
                pass
    buf = b"\n".join(chunks)

    res = doc.resolve(page.get("Resources")) or {}
    runs: list[Run] = []
    # /Rotate: compose the display rotation into the base CTM so layout
    # assembly (line grouping by y, run order by x) sees reading-oriented
    # geometry for landscape/scanned pages.  Only relative geometry
    # matters downstream, so no MediaBox translation is needed.
    try:
        rot = int(doc.resolve(page.get("Rotate")) or 0) % 360
    except (TypeError, ValueError):
        rot = 0
    base = {
        90: (0.0, -1.0, 1.0, 0.0, 0.0, 0.0),
        180: (-1.0, 0.0, 0.0, -1.0, 0.0, 0.0),
        270: (0.0, 1.0, -1.0, 0.0, 0.0, 0.0),
    }.get(rot, _ID)
    _interpret(doc, buf, res if isinstance(res, dict) else {}, base, runs, 0)
    return runs


def _interpret(
    doc: PdfDocument,
    buf: bytes,
    res: dict,
    base_ctm: tuple,
    runs: list[Run],
    depth: int,
) -> None:
    """Interpret one content stream (page or Form XObject) into `runs`.

    Form XObjects (`name Do`) recurse with CTM = /Matrix × current CTM and
    the form's own /Resources (falling back to the caller's) — per §8.10
    the form inherits the graphics state; text state is re-established by
    the form's own BT/ET, which every real generator emits."""
    # a corrupted /Font or /XObject entry can resolve to a non-dict object
    # (stream bytes, a number); treat anything but a dict as absent — the
    # mutation-fuzz contract is "malformed input degrades, never raises"
    font_dict = doc.resolve(res.get("Font"))
    if not isinstance(font_dict, dict):
        font_dict = {}
    xobj_dict = doc.resolve(res.get("XObject"))
    if not isinstance(xobj_dict, dict):
        xobj_dict = {}
    fonts: dict[str, FontInfo] = {}

    ctm = base_ctm
    ctm_stack: list[tuple] = []
    tm = _ID
    tlm = _ID
    font = FontInfo()
    fsize = 0.0
    leading = 0.0
    tc = 0.0  # char spacing
    tw = 0.0  # word spacing
    th = 1.0  # horizontal scale (Tz/100)
    stack: list[Any] = []

    def device(x: float, y: float) -> tuple[float, float]:
        m = _mat_mul(tm, ctm)
        return (x * m[0] + y * m[2] + m[4], x * m[1] + y * m[3] + m[5])

    def show(raw: bytes) -> None:
        nonlocal tm
        if not isinstance(raw, bytes):
            return
        x0, y0 = device(0.0, 0.0)
        parts: list[str] = []
        adv = 0.0  # text-space advance
        for ch, w in font.decode(raw):
            parts.append(ch)
            adv += (w / 1000.0) * fsize + tc + (tw if ch == " " else 0.0)
        adv *= th
        tm = _mat_mul((1, 0, 0, 1, adv, 0), tm)
        x1, _ = device(0.0, 0.0)
        text = "".join(parts)
        if text:
            # effective size = Tfs × the COMPOSITE (tm×ctm) vertical scale:
            # the 'Tf 1 ... Tm [s 0 0 s ...]' pattern scales via the text
            # matrix, which ctm alone would miss (gap thresholds would then
            # see size≈1 and split words at kern-sized gaps)
            m = _mat_mul(tm, ctm)
            vscale = (m[2] * m[2] + m[3] * m[3]) ** 0.5
            runs.append(Run(x0, y0, fsize * max(vscale, 1e-6), text, x1))

    for tok in _content_tokens(buf):
        if not (isinstance(tok, tuple) and len(tok) == 2 and tok[0] == "op"):
            stack.append(tok)
            continue
        op = tok[1]
        try:
            if op == "BT":
                tm = tlm = _ID
            elif op == "ET":
                pass
            elif op == "q":
                ctm_stack.append(ctm)
            elif op == "Q":
                ctm = ctm_stack.pop() if ctm_stack else _ID
            elif op == "cm" and len(stack) >= 6:
                m = tuple(float(v) for v in stack[-6:])
                ctm = _mat_mul(m, ctm)
            elif op == "Tf" and len(stack) >= 2:
                fname, fs = stack[-2], stack[-1]
                fsize = float(fs)
                key = str(fname)
                if key not in fonts:
                    fobj = (font_dict or {}).get(key)
                    fonts[key] = load_font(doc, fobj) if fobj is not None else FontInfo()
                font = fonts[key]
            elif op == "TL" and stack:
                leading = float(stack[-1])
            elif op == "Tc" and stack:
                tc = float(stack[-1])
            elif op == "Tw" and stack:
                tw = float(stack[-1])
            elif op == "Tz" and stack:
                th = float(stack[-1]) / 100.0
            elif op == "Td" and len(stack) >= 2:
                tlm = _mat_mul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
                tm = tlm
            elif op == "TD" and len(stack) >= 2:
                leading = -float(stack[-1])
                tlm = _mat_mul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
                tm = tlm
            elif op == "Tm" and len(stack) >= 6:
                tlm = tuple(float(v) for v in stack[-6:])
                tm = tlm
            elif op == "T*":
                tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                tm = tlm
            elif op == "Tj" and stack:
                show(stack[-1])
            elif op == "'" and stack:
                tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                tm = tlm
                show(stack[-1])
            elif op == '"' and len(stack) >= 3:
                tw = float(stack[-3])
                tc = float(stack[-2])
                tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                tm = tlm
                show(stack[-1])
            elif op == "TJ" and stack and isinstance(stack[-1], list):
                for item in stack[-1]:
                    if isinstance(item, bytes):
                        show(item)
                    elif isinstance(item, (int, float)):
                        # kerning: tx -= n/1000 * Tfs * Th; a large negative
                        # adjustment is an inter-word gap the font elided
                        shift = -float(item) / 1000.0 * fsize * th
                        tm = _mat_mul((1, 0, 0, 1, shift, 0), tm)
                        if float(item) < -180 and runs and runs[-1].text and not runs[-1].text.endswith(" "):
                            runs[-1].text += " "
            elif op == "Do" and stack and depth < 8:
                xo = doc.resolve(xobj_dict.get(str(stack[-1])))
                if isinstance(xo, Stream) and xo.dict.get("Subtype") == Name("Form"):
                    inner_res = doc.resolve(xo.dict.get("Resources"))
                    mat = doc.resolve(xo.dict.get("Matrix"))
                    fm = (
                        tuple(float(v) for v in mat)
                        if isinstance(mat, list) and len(mat) == 6
                        else _ID
                    )
                    try:
                        inner = doc.stream_data(xo)
                    except Exception:
                        inner = b""
                    _interpret(
                        doc,
                        inner,
                        inner_res if isinstance(inner_res, dict) else res,
                        _mat_mul(fm, ctm),
                        runs,
                        depth + 1,
                    )
        except (TypeError, ValueError, IndexError, OverflowError):
            pass
        stack.clear()


# ---------------------------------------------------------------------------
# Layout assembly
# ---------------------------------------------------------------------------

def _group_lines(runs: list[Run]) -> list[list[Run]]:
    """Group runs into baselines (y within half the font size)."""
    lines: list[list[Run]] = []
    for r in sorted(runs, key=lambda r: (-r.y, r.x)):
        if lines:
            ly = lines[-1][0].y
            tol = max(lines[-1][0].size, r.size, 1.0) * 0.5
            if abs(r.y - ly) <= tol:
                lines[-1].append(r)
                continue
        lines.append([r])
    return lines


def _detect_gutter(lines: list[list[Run]]) -> Optional[float]:
    """Find a vertical gutter splitting a two-column page.

    A gutter x qualifies when ≥70% of lines that have runs on both sides
    show a horizontal gap ≥ 18pt at that x, no run crosses it, and both
    sides are populated on ≥ 3 lines.
    """
    multi = [ln for ln in lines if len(ln) >= 2]
    if len(multi) < 3:
        return None
    candidates: dict[float, int] = {}
    for ln in multi:
        xs = sorted(ln, key=lambda r: r.x)
        for a, b in zip(xs, xs[1:]):
            gap = b.x - a.x_end
            if gap >= 18.0:
                mid = round((a.x_end + b.x) / 2.0, 0)
                candidates[mid] = candidates.get(mid, 0) + 1
    if not candidates:
        return None
    gutter, votes = max(candidates.items(), key=lambda kv: kv[1])
    if votes < max(3, int(0.7 * len(multi))):
        return None
    for ln in lines:  # no run may straddle the gutter
        for r in ln:
            if r.x < gutter < r.x_end:
                return None
    left = sum(1 for ln in lines for r in ln if r.x_end <= gutter)
    right = sum(1 for ln in lines for r in ln if r.x >= gutter)
    if left < 3 or right < 3:
        return None
    return gutter


def _approx_gcd(vals: list[float], tol: float = 0.7) -> float:
    """Float GCD with tolerance (Euclid on reals, stopping below tol)."""
    g = vals[0]
    for v in vals[1:]:
        a, b = max(g, v), min(g, v)
        while b > tol:
            a, b = b, abs(a - round(a / b) * b)
            if b > a:
                a, b = b, a
        g = a
    return g


def _dominant_leading(ys: list[float], font_size: float = 0.0) -> Optional[float]:
    """Estimate the line leading from baseline gaps.

    When every gap is a near-integer multiple of a common base ≥ 3pt (the
    writer's uniform-leading case, blank lines included), the approximate
    GCD recovers the base even if NO adjacent pair is exactly one leading
    apart.  Otherwise fall back to the most common gap.

    Typographic refinement: single-spaced leading is ~1.15–1.5× the font
    size.  If the recovered base is 1.9–3.6× the font size — a rhythm in
    which EVERY gap hides one or two blank lines (uniformly double-spaced
    blanks, or a lone blank pair) — divide by 2 or 3 to land back in the
    plausible band.  Boundary: true 2×-leading contiguous typography is
    geometrically indistinguishable from one blank line per gap and will
    gain blanks; such loose leading is rare in body text.
    """
    gaps = [a - b for a, b in zip(ys, ys[1:]) if a - b > 0.5]
    if not gaps:
        return None
    g = _approx_gcd(sorted(gaps))
    if g >= 3.0 and all(abs(x - round(x / g) * g) <= max(0.7, 0.05 * g) for x in gaps):
        if font_size > 0 and 1.9 * font_size < g <= 3.6 * font_size:
            for m in (2, 3):
                if 1.0 * font_size <= g / m <= 1.8 * font_size:
                    return g / m
        return g
    counts: dict[float, int] = {}
    for x in gaps:
        r = round(x, 1)
        counts[r] = counts.get(r, 0) + 1
    return min(counts, key=lambda k: (-counts[k], k))


def _emit_column(lines: list[list[Run]]) -> list[str]:
    """Render grouped lines to text, re-inferring blank lines from leading.

    Runs carrying a link annotation (set by ``_assign_links``) emit as
    markdown ``[text](uri)`` — the PDF counterpart of the HTML path's
    link-preserving markdown.  Adjacent runs with the same uri merge into
    one link; an inter-run gap space goes inside the brackets only when
    both sides share the uri."""
    if not lines:
        return []
    ys = [ln[0].y for ln in lines]
    sizes = sorted(r.size for ln in lines for r in ln)
    modal_size = sizes[len(sizes) // 2] if sizes else 0.0
    lead = _dominant_leading(ys, modal_size)
    out: list[str] = []
    prev_y: Optional[float] = None
    for ln, y in zip(lines, ys):
        if prev_y is not None and lead:
            k = round((prev_y - y) / lead)
            if k >= 2 and abs((prev_y - y) - k * lead) <= max(1.0, 0.1 * lead):
                out.extend([""] * (k - 1))
        segs: list[tuple[str, Optional[str]]] = []
        prev: Optional[Run] = None
        for r in sorted(ln, key=lambda r: r.x):
            if prev is not None and r.x - prev.x_end > 0.3 * max(r.size, 1.0) \
                    and segs and not segs[-1][0].endswith(" ") \
                    and not r.text.startswith(" "):
                segs.append((" ", r.link if prev.link == r.link else None))
            segs.append((r.text, r.link))
            prev = r
        parts: list[str] = []
        i = 0
        while i < len(segs):
            link = segs[i][1]
            j = i
            buf: list[str] = []
            while j < len(segs) and segs[j][1] == link:
                buf.append(segs[j][0])
                j += 1
            body = "".join(buf)
            if link:
                body = (body.replace("\\", "\\\\")
                        .replace("[", "\\[").replace("]", "\\]"))
                uri = (link.replace("\\", "\\\\")
                       .replace("(", "\\(").replace(")", "\\)"))
                parts.append(f"[{body}]({uri})")
            else:
                parts.append(body)
            i = j
        out.append("".join(parts))
        prev_y = y
    return out


def _page_links(doc: PdfDocument, page: dict) -> list[tuple]:
    """(x0, y0, x1, y1, uri) for each /Annots Link with a URI action."""
    out: list[tuple] = []
    annots = doc.resolve(page.get("Annots"))
    if not isinstance(annots, list):
        return out
    for a in annots:
        a = doc.resolve(a)
        if isinstance(a, Stream):
            a = a.dict
        if not isinstance(a, dict) or a.get("Subtype") != Name("Link"):
            continue
        act = doc.resolve(a.get("A"))
        uri = None
        if isinstance(act, dict) and act.get("S") == Name("URI"):
            u = doc.resolve(act.get("URI"))
            if isinstance(u, bytes):
                uri = u.decode("utf-8", "replace")
            elif isinstance(u, str):
                uri = u
        rect = doc.resolve(a.get("Rect"))
        if uri and isinstance(rect, list) and len(rect) == 4:
            try:
                x0, y0, x1, y1 = (float(doc.resolve(v)) for v in rect)
            except (TypeError, ValueError, OverflowError):
                continue
            out.append((min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1), uri))
    return out


def _assign_links(runs: list[Run], rects: list[tuple]) -> None:
    """Tag each run whose baseline midpoint falls inside a link rect."""
    if not rects:
        return
    for r in runs:
        midx = (r.x + r.x_end) / 2.0
        for x0, y0, x1, y1, uri in rects:
            if x0 <= midx <= x1 and y0 <= r.y <= y1:
                r.link = uri
                break


def page_text(doc: PdfDocument, page: dict) -> str:
    runs = extract_runs(doc, page)
    if not runs:
        return ""
    _assign_links(runs, _page_links(doc, page))
    lines = _group_lines(runs)
    gutter = _detect_gutter(lines)
    if gutter is None:
        return "\n".join(_emit_column(lines))
    left_runs = [r for ln in lines for r in ln if r.x_end <= gutter]
    right_runs = [r for ln in lines for r in ln if r.x >= gutter]
    cols = []
    for col in (left_runs, right_runs):
        if col:
            cols.append("\n".join(_emit_column(_group_lines(col))))
    return "\n".join(cols)


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------

def pdf_to_pages(data: bytes) -> list[str]:
    """Extract layout-ordered text per page.  Lenient: returns [] only when
    no page yields any text."""
    doc = PdfDocument.load(data)
    return [page_text(doc, p) for p in doc.pages()]


def pdf_to_text(data: bytes) -> str:
    """All pages joined with a single newline (page breaks at line
    boundaries — the writer in pdfwrite.py guarantees this, and for foreign
    PDFs a page boundary is still a line boundary)."""
    return "\n".join(p for p in pdf_to_pages(data) if p != "")


def is_pdf(data: bytes) -> bool:
    """Magic sniff: %PDF- after optional BOM/whitespace.

    Deliberately STRICTER than the parser (PdfDocument.load tolerates
    arbitrary junk before the header): a routing sniff that matched %PDF-
    anywhere in the first KiB would classify HTML that merely MENTIONS the
    magic as a PDF.  Callers that know a payload is a PDF can call
    pdf_to_text directly regardless of prefix junk."""
    head = data[:1024]
    if head.startswith(b"\xef\xbb\xbf"):
        head = head[3:]
    return head.lstrip()[:5] == b"%PDF-"
