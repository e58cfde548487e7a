"""RTF stream-processing kernel.

A from-scratch Python re-expression of the reference engine's semantics
(torstenvl/rtfproc, /root/reference/src/rtfproc.c — cited per-method below).
This is NOT a translation: the reference streams bytes through fixed C
buffers; here each conversation turn's ``text`` cell is processed as one
self-contained byte stream inside a vectorized pandas UDF, and the kernel is
written token-at-a-time with a bulk fast path for boring text runs. The
observable outputs (rtf_out byte stream, plain_text byte stream, error) are
byte-identical to the reference per turn, including its documented quirks:

- MATCH fires only when the whole remaining text-buffer tail equals a key
  (rtfproc.c:422-454), keys in insertion order, earliest offset first;
- a key that partially matches shadows later keys at the same offset and all
  later offsets (rtfproc.c:455-468 and its TODO);
- plain_text keeps the ORIGINAL matched key text (replacement affects the
  RTF output only — rtfproc.c:1072-1085);
- the \\uc skip countdown consumes individual text-producing byte events
  (rtfproc.c:960) plus one per whole \\'hh escape (rtfproc.c:710), is re-armed
  unconditionally by \\uN (rtfproc.c:694) and cleared by scope push
  (rtfproc.c:1223-1226);
- net-brace re-encoding of replaced spans skips the final raw byte
  (the ``i < ri-1`` loop bound, rtfproc.c:1157-1173);
- non-ASCII replacement values are re-encoded as ``{\\uc0 \\u%d}`` groups with
  signed-16 wrap and surrogate pairs for astral planes (rtfproc.c:1136-1147);
- buffer-overflow recovery at 64 KiB raw / 2 KiB txt abandons pending
  matches but never drops an in-flight command (rtfproc.c:911-933, 1029-1053);
- the txt->raw lineage map is not shifted on buffer resets (stale entries
  survive a partial flush exactly as in the C array).
"""

from __future__ import annotations

import re

from . import codepage as _cp
from .unicode import cdpt_from_utf8, cdpt_from_utf16, utf8_from_cdpt, utf16_from_cdpt

RAW_BUFFER_SIZE = 65536  # rtfproc.h:29
TXT_BUFFER_SIZE = 2048  # rtfproc.h:30
CMD_BUFFER_SIZE = 2048  # rtfproc.h:31
FONTTBL_SIZE = 512  # rtfproc.h:32

_ALNUM = frozenset(b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")
_SPACE = frozenset(b" \t\n\r\x0b\x0c")  # C isspace, C locale
_HEX = frozenset(b"0123456789abcdefABCDEF")

_RE_HEXNUM = re.compile(rb"[0-9A-Fa-f]+")
# Run of hex escapes (each unit is exactly 4 bytes, so no backtracking can
# split a unit); (?=.) keeps EOF-adjacent units on the slow path.
_RE_HEXRUN = re.compile(rb"(?:\\'[0-9A-Fa-f]{2})+(?=.)")
# Fused command token (read_command byte consumption, rtfproc.c:492-560):
# word + optional one isspace byte | \'hh (two raw bytes) | single-char
# specials with CRLF collapse | anything else = invalid.
_RE_CMDTOKEN = re.compile(
    rb"([0-9A-Za-z][0-9A-Za-z-]*)([ \t\n\r\x0b\x0c]?)"
    rb"|'(.{0,2})"
    rb"|(\r\n|[{}\\~_*\n\r-])"
    rb"|(.)",
    re.DOTALL,
)
# One pass over the command body: lowercase word + optional signed integer +
# at most one trailing isspace byte (what read_command can produce).
_RE_CMDSPLIT = re.compile(rb"([a-z]+)(-?[0-9]+)?[ \t\n\r\x0b\x0c]?")

# Destination control words whose whole group is copied to raw but produces
# no text and interprets no commands (rtfproc.c:590-609).
_SHUNT_WORDS = frozenset(
    {
        b"pict",
        b"colortbl",
        b"stylesheet",
        b"title",
        b"subject",
        b"author",
        b"manager",
        b"company",
        b"operator",
        b"category",
        b"keywords",
        b"comment",
        b"doccomm",
        b"hlinkbase",
        b"creatim",
        b"revtim",
        b"printim",
        b"buptim",
        b"userprops",
        b"bin",
    }
)

# txt-domain byte transform for plain text runs: \r \n dropped, \v -> space,
# \t kept (rtfproc.c:374-398).
_TXT_TRANSLATE = bytes(0x20 if b == 0x0B else b for b in range(256))
_TXT_DELETE = b"\r\n"


class ReplacementSet:
    """Ordered key/value dictionary, broadcast-friendly.

    ``bulk`` load appends without dedupe (rtfproc.c:136-177);
    ``add_one`` upserts in place on duplicate keys (rtfproc.c:180-244).
    """

    __slots__ = (
        "keys",
        "vals",
        "first_bytes",
        "by_first",
        "bulk_normal",
        "bulk_notxt",
        "bulk_nocmd",
        "strip_cmds",
        "_encoded_vals",
        "_hex_safe",
    )

    def __init__(self, pairs=()):
        self.keys: list[bytes] = []
        self.vals: list[bytes] = []
        for k, v in pairs:
            self.bulk_add(k, v)
        self._finalize()

    @staticmethod
    def _b(s) -> bytes:
        return s.encode("utf-8") if isinstance(s, str) else bytes(s)

    def bulk_add(self, key, val) -> None:
        self.keys.append(self._b(key))
        self.vals.append(self._b(val))

    def add_one(self, key, val) -> None:
        kb, vb = self._b(key), self._b(val)
        for i, existing in enumerate(self.keys):
            if existing == kb:
                self.vals[i] = vb
                self._finalize()
                return
        self.keys.append(kb)
        self.vals.append(vb)
        self._finalize()

    def _finalize(self) -> None:
        self.first_bytes = frozenset(k[0] for k in self.keys if k)
        # First-byte buckets, insertion order preserved within a bucket:
        # at any offset only keys whose first byte equals txt[offset] can
        # MATCH or go PARTIAL, so the scan may skip the rest exactly.
        by_first: dict[int, list[bytes]] = {}
        for k in self.keys:
            if k:
                by_first.setdefault(k[0], []).append(k)
        self.by_first = {b: tuple(ks) for b, ks in by_first.items()}
        # Bytes that force the slow path inside a plain-text run: structural
        # bytes plus any byte whose txt-image is a key first byte.
        interesting = set()
        for b in range(256):
            if b in (0x0D, 0x0A):
                continue  # never enters txt
            tb = 0x20 if b == 0x0B else b
            if tb in self.first_bytes:
                interesting.add(b)
        # NUL is the deferred-setup sentinel in add_to_txt (rtfproc.c:960-ish):
        # the per-byte path never appends it to the text buffer, so a literal
        # 0x00 text byte must always take the exact slow path.
        interesting.add(0x00)
        cls = b"".join(re.escape(bytes((b,))) for b in sorted(interesting | {0x7B, 0x7D, 0x5C}))
        # ---- bulk-span regexes (clean-state fast path) ----
        # A command word is "boring" when proc_command would dispatch it to
        # proc_cmd_unknown with blkoptional clear: any word that is not a
        # recognized control word (rtfproc.c:580-610). Such commands are pure
        # raw passthrough, so whole runs of [boring text | boring command]
        # can be emitted in one regex match. Atomic groups (?>...) keep
        # token boundaries exact under backtracking (a word may never be
        # split; a text chunk may, harmlessly).
        known = (
            rb"(?:par|line|fonttbl|pict|colortbl|stylesheet|title|subject"
            rb"|author|manager|company|operator|category|keywords|comment"
            rb"|doccomm|hlinkbase|creatim|revtim|printim|buptim|userprops"
            rb"|bin)(?![0-9A-Za-z-])"
            rb"|(?:uc?|fcharset|f|cchs|deff)-?[0-9]+(?![0-9A-Za-z-])"
        )
        boring_cmd = (
            rb"\\(?!" + known + rb")"
            rb"(?>[0-9A-Za-z][0-9A-Za-z-]*[ \t\n\r\x0b\x0c]?)"
        )
        text_chunk = b"[^" + cls + b"]+"
        any_text = rb"[^{}\\]+"
        # NUL excluded from the \'hh payload: the C-string copy to raw
        # truncates at NUL (rtfproc.c:1051), so those tokens go slow-path.
        any_cmd = (
            rb"\\(?:(?>[0-9A-Za-z][0-9A-Za-z-]*[ \t\n\r\x0b\x0c]?)"
            rb"|'[^\x00][^\x00]|\r\n|[{}\\~_*\n\r-])"
        )
        # NB: the single-char alternative lists ONLY the bytes read_command
        # accepts after a backslash — anything else is EINVAL even in nocmd
        # scopes (validation happens in read_command, before the nocmd check)
        # and must reach the slow path to set fatalerr.
        # \par and \line only append newlines to txt; when no key starts
        # with \n the newline flushes straight through (NOMATCH), so in the
        # clean state they are bulkable: raw passthrough + a deterministic
        # text contribution handled by the strip_cmds substitution below.
        par_line = rb"\\(par|line)(?![0-9A-Za-z-])(?>[ \t\n\r\x0b\x0c]?)"
        normal_alts = text_chunk + b"|" + boring_cmd
        if 0x0A not in self.first_bytes:
            normal_alts += b"|" + par_line
        # (?=.) keeps the span from consuming the final byte, so every
        # token that the reference would fail on at EOF reaches the exact
        # slow path.
        self.bulk_normal = re.compile(
            b"(?:" + normal_alts + b")+(?=.)", re.DOTALL
        )
        self.bulk_notxt = re.compile(
            b"(?:" + any_text + b"|" + boring_cmd + b")+(?=.)", re.DOTALL
        )
        self.bulk_nocmd = re.compile(
            b"(?:" + any_text + b"|" + any_cmd + b")+(?=.)", re.DOTALL
        )
        self.strip_cmds = re.compile(
            b"(?:" + boring_cmd + b")|" + par_line, re.DOTALL
        )
        # Pre-encode replacement values into the RTF splice form
        # (ASCII verbatim; non-ASCII as {\uc0 \u%d} groups — rtfproc.c:1131-1155).
        # Duplicate keys (bulk load has no dedupe): the FIRST occurrence wins
        # at match time (rtfproc.c:423 iterates keys in order), so map by
        # first occurrence.
        self._encoded_vals = {}
        for k, v in zip(self.keys, self.vals):
            if k not in self._encoded_vals:
                self._encoded_vals[k] = self._encode_val(v)

    @staticmethod
    def _encode_val(val: bytes) -> bytes:
        out = bytearray()
        i, n = 0, len(val)
        while i < n:
            b = val[i]
            if b < 128:
                out.append(b)
                i += 1
                continue
            # Decode one UTF-8 sequence, re-encode as UTF-16 \u groups with
            # signed-16 wrap (rtfproc.c:1136-1147).
            cdpt = cdpt_from_utf8(val, i)
            hi, lo = utf16_from_cdpt(cdpt)
            hi_out = hi - 65536 if hi > 32767 else hi
            lo_out = lo - 65536 if lo > 32767 else lo
            if hi_out != 0:
                out += b"{\\uc0 \\u%d}" % hi_out
            out += b"{\\uc0 \\u%d}" % lo_out
            i += 1
            while i < n and (val[i] >> 6) == 2:
                i += 1
        return bytes(out)

    def encoded_val_for(self, key: bytes) -> bytes:
        return self._encoded_vals[key]

    def hex_safe(self, cpg):
        """frozenset of hex byte values whose decoded UTF-8 contains no key
        first byte under this single-byte codepage; None if the codepage is
        not single-byte table-decodable."""
        cache = getattr(self, "_hex_safe", None)
        if cache is None:
            cache = self._hex_safe = {}
        if cpg not in cache:
            table = _cp.single_byte_table(cpg)
            if table is None:
                cache[cpg] = None
            else:
                firsts = self.first_bytes
                # a decoded 0x00 would be the deferred-setup sentinel in
                # add_to_txt — force such escapes onto the exact slow path
                cache[cpg] = frozenset(
                    v
                    for v in range(256)
                    if not any(b in firsts or b == 0 for b in table[v])
                )
        return cache[cpg]


_EMPTY_REPLACEMENTS = None


def empty_replacements() -> ReplacementSet:
    global _EMPTY_REPLACEMENTS
    if _EMPTY_REPLACEMENTS is None:
        _EMPTY_REPLACEMENTS = ReplacementSet()
    return _EMPTY_REPLACEMENTS


class _Attr:
    """Lexically-scoped decoder state (rtfproc.h:44-59)."""

    __slots__ = (
        "uc",
        "uccountdown",
        "fonttbl",
        "blkoptional",
        "nocmd",
        "notxt",
        "fonttbl_defn_idx",
        "xtra",
        "codepage",
        "outer",
    )

    def __init__(self):
        self.uc = 1  # RTF 1.9 default (rtfproc.c:121-127)
        self.uccountdown = 0
        self.fonttbl = False
        self.blkoptional = False
        self.nocmd = False
        self.notxt = False
        self.fonttbl_defn_idx = -1
        self.xtra = 0
        self.codepage = 0
        self.outer = None

    def copy_into_child(self) -> "_Attr":
        child = _Attr.__new__(_Attr)
        child.uc = self.uc
        child.uccountdown = self.uccountdown
        child.fonttbl = self.fonttbl
        child.blkoptional = self.blkoptional
        child.nocmd = self.nocmd
        child.notxt = self.notxt
        child.fonttbl_defn_idx = self.fonttbl_defn_idx
        child.xtra = self.xtra
        child.codepage = self.codepage
        child.outer = self
        return child


class RTFEngine:
    """One-document (one-turn) processing cursor.

    Equivalent of ``rtfobj`` + ``rtfreplace`` (rtfproc.c:93-132, 281-306).
    """

    __slots__ = (
        "rs",
        "data",
        "raw",
        "txt",
        "cmd",
        "txtrawmap",
        "fout",
        "ftxt",
        "attr",
        "topattr",
        "fonttbl_f",
        "fonttbl_charset",
        "defaultfont",
        "documentcodepage",
        "highsurrogate",
        "fatalerr",
        "deferred",
        "bulk",
        "txt_dirty",
    )

    def __init__(self, replacements: ReplacementSet | None = None, bulk: bool = True):
        # ``bulk=False`` disables the fast path (pure per-byte semantics) —
        # used by differential tests to prove the fast path output-equivalent.
        self.bulk = bulk
        self.rs = replacements if replacements is not None else empty_replacements()
        self.raw = bytearray()
        self.txt = bytearray()
        self.cmd = bytearray()
        self.txtrawmap = [0] * TXT_BUFFER_SIZE
        self.fout: list[bytes] = []
        self.ftxt: list[bytes] = []
        self.topattr = _Attr()
        self.attr = self.topattr
        self.fonttbl_f: list[int] = []
        self.fonttbl_charset: list[int | None] = []
        self.defaultfont = -1
        self.documentcodepage = 0
        self.highsurrogate = 0
        self.fatalerr: str | None = None
        self.deferred = False
        self.txt_dirty = True

    def reset(self) -> None:
        """Reinitialize per-document state so one engine instance can be
        reused across an Arrow batch (txtrawmap is overwrite-before-read and
        is deliberately kept)."""
        self.raw.clear()
        self.txt.clear()
        self.cmd.clear()
        self.fout = []
        self.ftxt = []
        self.topattr = _Attr()
        self.attr = self.topattr
        self.fonttbl_f.clear()
        self.fonttbl_charset.clear()
        self.defaultfont = -1
        self.documentcodepage = 0
        self.highsurrogate = 0
        self.fatalerr = None
        self.deferred = False
        self.txt_dirty = True

    # ------------------------------------------------------------------ run

    def run(self, data: bytes) -> tuple[bytes, bytes, str | None]:
        """Process one document; returns (rtf_out, plain_text, error)."""
        if self.fout or self.fatalerr or self.raw or self.txt:
            self.reset()
        rs = self.rs
        fout = self.fout
        # Loop-local aliases: raw/txt are mutated strictly in place (del /
        # append / clear — never rebound outside reset), ftxt likewise, and
        # bulk is constructor-constant, so hoisting them out of the
        # per-token loop drops four attribute loads per iteration. attr,
        # deferred and fatalerr ARE rebound mid-run and stay as attributes.
        raw = self.raw
        txt = self.txt
        ftxt = self.ftxt
        bulk = self.bulk
        dispatch_scope = self._dispatch_scope
        dispatch_command = self._dispatch_command
        dispatch_text = self._dispatch_text
        pattern_match = self._pattern_match
        i, n = 0, len(data)
        while i < n:
            # Bulk fast path: clean state (empty txt, no deferred setup) lets
            # us flush raw eagerly and stream whole spans of boring text and
            # boring/uninterpreted commands straight through — output-
            # equivalent to the per-byte loop (see module docstring).
            if bulk and not txt and not self.deferred:
                if raw:
                    fout.append(bytes(raw))
                    raw.clear()
                a = self.attr
                if a.nocmd and a.notxt:
                    m = rs.bulk_nocmd.match(data, i)
                elif a.notxt:
                    m = None if a.blkoptional else rs.bulk_notxt.match(data, i)
                elif a.uccountdown == 0 and not a.blkoptional:
                    m = rs.bulk_normal.match(data, i)
                else:
                    m = None
                if m is not None:
                    j = m.end()
                    span = data[i:j]
                    fout.append(span)
                    if not a.notxt:
                        ftxt.append(_span_text(rs, span))
                    i = j
                    continue
                # hex-escape runs under a single-byte codepage: pure
                # passthrough in raw, table-decoded text, provided no
                # decoded byte could begin a key and no DBCS carry pends.
                if (
                    not a.notxt
                    and not a.nocmd
                    and a.uccountdown == 0
                    and not a.blkoptional
                    and a.xtra == 0
                    and data[i] == 0x5C
                    and data[i + 1 : i + 2] == b"'"
                ):
                    cpg = a.codepage if a.codepage else self.documentcodepage
                    safe = rs.hex_safe(cpg)
                    hm = None
                    if safe is not None:
                        try:  # cheap peek before the run regex
                            if int(data[i + 2 : i + 4], 16) in safe:
                                hm = _RE_HEXRUN.match(data, i)
                        except ValueError:
                            hm = None
                    if hm is not None:
                        # bulk the longest prefix of key-safe escapes; the
                        # first unsafe one (could start a match) takes the
                        # exact slow path.
                        end = hm.end()
                        k = i + 4
                        while k < end and int(data[k + 2 : k + 4], 16) in safe:
                            k += 4
                        span = data[i:k]
                        table = _cp.single_byte_table(cpg)
                        fout.append(span)
                        ftxt.append(
                            b"".join(
                                table[int(span[j + 2 : j + 4], 16)]
                                for j in range(0, len(span), 4)
                            )
                        )
                        i = k
                        continue
            if i >= n:
                break
            c = data[i]
            i += 1
            if c == 0x7B or c == 0x7D:
                dispatch_scope(c)
            elif c == 0x5C:
                i = dispatch_command(data, i)
            else:
                dispatch_text(c)
            if txt:  # ti<1 is a no-op inside pattern_match (rtfproc.c:420)
                pattern_match()
            if self.fatalerr:
                self._output_raw_by(len(self.raw))
                return b"".join(self.fout), b"".join(self.ftxt), self.fatalerr
        self._output_raw_by(len(self.raw))  # rtfproc.c:303
        return b"".join(self.fout), b"".join(self.ftxt), None

    # rtfprocess callback constants (rtfproc.h:38-40)
    PROC_START = -1
    PROC_STEP = 0
    PROC_END = 1

    def process(self, data: bytes, fn) -> str | None:
        """Callback mode — the reference's second entry point
        ``rtfprocess(R, fn, data)`` (rtfproc.c:309-332): same dispatch, NO
        pattern matching; ``fn(engine, event)`` fires before the loop, after
        every dispatched token, and at EOF/error. The callback owns draining
        (it may read/clear ``raw``/``txt`` and append to ``fout``/``ftxt``,
        e.g. the RTF->text converter in the reference README).

        Token-at-a-time by construction (no bulk path): the callback must
        observe every step exactly as the reference's would.
        """
        if self.fout or self.fatalerr or self.raw or self.txt:
            self.reset()
        i, n = 0, len(data)
        fn(self, self.PROC_START)
        while i < n:
            c = data[i]
            i += 1
            if c == 0x7B or c == 0x7D:
                self._dispatch_scope(c)
            elif c == 0x5C:
                i = self._dispatch_command(data, i)
            else:
                self._dispatch_text(c)
            fn(self, self.PROC_STEP)
            if self.fatalerr:
                fn(self, self.PROC_END)
                return self.fatalerr
        fn(self, self.PROC_END)
        return None

    # ------------------------------------------------------------- dispatch

    def _dispatch_scope(self, c: int) -> None:
        # rtfproc.c:341-349
        self._add_to_raw(c)
        if c == 0x7B:
            self._push_attr()
        else:
            self._pop_attr()

    def _dispatch_text(self, c: int) -> None:
        # rtfproc.c:374-398
        if self.attr.notxt:
            self._add_to_raw(c)
            return
        if c == 0x0D or c == 0x0A:
            pass
        elif c == 0x09:
            self._add_to_txt(0x09)
        elif c == 0x0B:
            self._add_to_txt(0x20)
        else:
            self._add_to_txt(c)
        self._add_to_raw(c)

    def _dispatch_command(self, data: bytes, i: int) -> int:
        # Fused read_command + proc_command (rtfproc.c:353-370, 492-618).
        # One regex match consumes exactly the bytes the reference reads.
        # proc still runs after a read error (the C FAIL macro only exits
        # read_command), and an INVALID first byte is consumed but never
        # added to cmd/raw (rtfproc.c:540 FAILs before add_to_cmd).
        n = len(data)
        m = _RE_CMDTOKEN.match(data, i) if i < n else None
        nocmd = self.attr.nocmd
        if m is None:
            self.fatalerr = "EIO: unexpected EOF after backslash"
            if not nocmd:
                self._proc_body(b"")
            self._add_cmd_to_raw(b"\\")
            return i
        end = m.end()
        # Branch on lastindex instead of extracting all four groups: word
        # tokens always end at group 2 (the optional-space group matches
        # empty), \'hh payloads at 3, singles at 4, the invalid catch-all
        # at 5 — pinned by the regex shape above.
        li = m.lastindex
        # data[i-1] is the backslash that routed us here, so one slice
        # replaces the b"\\" + data[i:end] concatenation
        raw_cmd = data[i - 1 : end]
        if li == 2:
            if end == n and not m.group(2):
                self.fatalerr = "EIO: unexpected EOF in command"
            if not nocmd:
                self._proc_word(m.group(1))
        elif li == 3:
            pay = m.group(3)
            if len(pay) < 2:
                self.fatalerr = "EIO: EOF after \\' command"
            if not nocmd:
                self._proc_body(b"'" + pay)
        elif li == 4:
            single = m.group(4)
            if single == b"\r" and end == n:
                self.fatalerr = "EIO: EOF after \\<CR>"
            if not nocmd:
                self._proc_body(single)
        else:
            self.fatalerr = "EINVAL: invalid command format"
            raw_cmd = b"\\"  # invalid byte consumed, not kept
            if not nocmd:
                self._proc_body(b"")
        self._add_cmd_to_raw(raw_cmd)
        return end

    # --------------------------------------------------------- proc_command

    def _proc_body(self, body: bytes) -> None:
        # rtfproc.c:564-618 (non-word commands + empty/invalid)
        if not body:
            self._proc_cmd_unknown()
        elif body == b"\r\n":
            # CHR_MATCH needs a single char: \<CR><LF> matches nothing
            self._proc_cmd_unknown()
        elif len(body) == 1:
            b0 = body[0]
            if b0 in (0x7B, 0x7D, 0x5C):
                self._add_to_txt(b0)  # escaped literal (rtfproc.c:622-628)
            elif b0 == 0x7E:  # \~ -> U+00A0 nbsp (rtfproc.c:637)
                self._add_string_to_txt(_utf8(0x00A0))
            elif b0 == 0x5F:  # \_ -> U+2011 nb-hyphen (rtfproc.c:638)
                self._add_string_to_txt(_utf8(0x2011))
            elif b0 == 0x2D:  # \- -> U+00AD soft hyphen (rtfproc.c:639)
                self._add_string_to_txt(_utf8(0x00AD))
            elif b0 in (0x0D, 0x0A):
                self._add_to_txt(0x0A)  # \<CR> or \<LF> -> newline
            else:
                self._proc_cmd_unknown()
        elif body[0] == 0x27:
            if len(body) >= 3 and body[1] in _HEX and body[2] in _HEX:
                self._proc_cmd_apostrophe(body)
            else:
                self._proc_cmd_unknown()
        else:
            self._proc_cmd_unknown()
        # \* marks the block optional; any recognized word clears it
        # (rtfproc.c:613-615)
        self.attr.blkoptional = body == b"*"

    def _proc_word(self, word: bytes) -> None:
        # rtfproc.c:564-618 (word commands); the token already stripped the
        # optional trailing space the C regexes allow via \s?$. A word can
        # never be "*", so blkoptional always clears here (rtfproc.c:615).
        # The word -> action decision is a pure function of the word bytes
        # and words repeat heavily (\f0, \fs20, \i0, ...), so it is memoized
        # module-wide (bounded; see _parse_word).
        act = _WORD_MEMO.get(word)
        if act is None:
            act = _parse_word(word)
            if len(_WORD_MEMO) < _WORD_MEMO_MAX:
                _WORD_MEMO[word] = act
        code, arg = act
        if code == 0:
            self._proc_cmd_unknown()
        elif code == 1:  # \par
            self._add_to_txt(0x0A)
            self._add_to_txt(0x0A)
        elif code == 2:  # \line
            self._add_to_txt(0x0A)
        elif code == 3:  # \fonttbl
            a = self.attr
            a.notxt = True
            a.fonttbl = True
            a.fonttbl_defn_idx = -1
        elif code == 4:  # destination shunt
            self.attr.nocmd = True
            self.attr.notxt = True
        elif code == 5:
            self._proc_cmd_u(arg)
        elif code == 6:
            self.attr.uc = arg
        elif code == 7:
            self._proc_cmd_f(arg)
        elif code == 8:
            self._proc_cmd_fcharset(arg)
        elif code == 9:  # \cchsN (codepage precomputed in the memo)
            self.attr.codepage = arg
        else:  # 10: \deffN
            self.defaultfont = arg
        self.attr.blkoptional = False

    def _proc_cmd_unknown(self) -> None:
        # rtfproc.c:886-895
        if self.attr.blkoptional:
            self.attr.nocmd = True
            self.attr.notxt = True

    def _proc_cmd_u(self, arg: int) -> None:
        # rtfproc.c:658-697
        if arg < 0:
            arg += 65536
        if 0xD800 <= arg <= 0xDBFF:
            self.highsurrogate = arg
            self._add_to_txt(0)  # deferred text setup
        elif 0xDC00 <= arg <= 0xDFFF:
            cdpt = cdpt_from_utf16(self.highsurrogate, arg)
            self._add_string_to_txt(_utf8(cdpt))
        else:
            self._add_string_to_txt(_utf8(arg))
        self.attr.uccountdown = self.attr.uc  # unconditional re-arm (rtfproc.c:694)

    def _proc_cmd_apostrophe(self, body: bytes) -> None:
        # rtfproc.c:701-746
        a = self.attr
        cpg = a.codepage if a.codepage else self.documentcodepage
        if a.uccountdown:
            a.uccountdown -= 1
            return
        arg = int(body[1:3], 16)
        res, a.xtra = _cp.cpgtou(cpg, arg, a.xtra)
        if res is _cp.DBSQ:
            self._add_to_txt(0)  # deferred text setup (rtfproc.c:719-721)
        elif res is _cp.NONE or res is _cp.UNSP:
            pass  # silent drop (rtfproc.c:732-737)
        else:
            for ch in res:  # cpMULT expands one code point at a time
                self._add_string_to_txt(_utf8(ord(ch)))

    def _proc_cmd_f(self, arg: int) -> None:
        # rtfproc.c:762-801
        if self.attr.fonttbl:
            try:
                idx = self.fonttbl_f.index(arg)
                self.attr.fonttbl_defn_idx = idx
            except ValueError:
                if len(self.fonttbl_f) + 1 < FONTTBL_SIZE:
                    self.fonttbl_f.append(arg)
                    self.fonttbl_charset.append(None)
                    self.attr.fonttbl_defn_idx = len(self.fonttbl_f) - 1
        else:
            try:
                idx = self.fonttbl_f.index(arg)
            except ValueError:
                return
            charset = self.fonttbl_charset[idx]
            # A font defined without \fcharset keeps the cpNONE placeholder
            # in the reference (rtfproc.c:779), and cpgfromcharsetnum maps it
            # to a truthy unsupported codepage -> \'hh silently drops under
            # that font (verified vs the shim-built reference binary).
            self.attr.codepage = _cp.cpgfromcharsetnum(
                charset if charset is not None else -1
            )

    def _proc_cmd_fcharset(self, arg: int) -> None:
        # rtfproc.c:805-825
        if self.attr.fonttbl and self.attr.fonttbl_defn_idx >= 0:
            idx = self.attr.fonttbl_defn_idx
            self.fonttbl_charset[idx] = arg
            if self.fonttbl_f[idx] == self.defaultfont:
                self.documentcodepage = _cp.cpgfromcharsetnum(arg)

    # -------------------------------------------------------- pattern match

    def _pattern_match(self) -> None:
        # rtfproc.c:413-477. MATCH iff the whole txt tail equals a key;
        # PARTIAL iff a key strictly extends the tail (first key wins and
        # shadows everything after it — the reference's documented quirk).
        txt = self.txt
        ti = len(txt)
        if ti < 1 or self.attr.notxt:
            return
        if not self.txt_dirty:
            # txt unchanged since the last full scan, which held a PARTIAL
            # at offset 0 — rescanning is a provable no-op.
            return
        self.txt_dirty = False
        by_first = self.rs.by_first
        # Lazy tail materialization: most offsets have no first-byte bucket,
        # so indexing the live bytearray and building the tail bytes only on
        # a bucket hit avoids a full snapshot copy per appended character.
        for offset in range(ti):
            cands = by_first.get(txt[offset])
            if not cands:
                continue
            tail = bytes(txt[offset:])
            for k in cands:
                if k == tail:
                    if offset > 0:
                        amt = self.txtrawmap[offset]
                        self._output_raw_by(amt)
                        self._reset_raw_by(amt)
                        self._reset_txt_by(offset)
                    self._output_match(k)
                    self._reset_raw_by(len(self.raw))
                    self._reset_txt_by(len(self.txt))
                    return
                if len(k) > ti - offset and k.startswith(tail):
                    if offset > 0:
                        amt = self.txtrawmap[offset]
                        self._output_raw_by(amt)
                        self._reset_raw_by(amt)
                        self._reset_txt_by(offset)
                    return
        # no MATCH/PARTIAL anywhere: drain everything (inlined
        # _output_raw_by + _reset_raw_by + _reset_txt_by for the hot path —
        # amt == live length for all three, and ti >= 1 here)
        raw = self.raw
        if raw:
            self.fout.append(bytes(raw))
            raw.clear()
        self.ftxt.append(bytes(txt))
        txt.clear()
        self.txt_dirty = True

    def _output_match(self, key: bytes) -> None:
        # rtfproc.c:1115-1176: replacement value (pre-encoded) + the NET
        # brace balance of the consumed raw span, skipping escaped braces,
        # with the final raw byte excluded from the count (i < ri-1).
        self.fout.append(self.rs.encoded_val_for(key))
        raw = self.raw
        nbraces = 0
        i, end = 0, len(raw) - 1
        while i < end:
            b = raw[i]
            if b == 0x5C and raw[i + 1] in (0x5C, 0x7B, 0x7D):
                i += 2
                continue
            if b == 0x7B:
                nbraces += 1
            elif b == 0x7D:
                nbraces -= 1
            i += 1
        if nbraces > 0:
            self.fout.append(b"{" * nbraces)
        elif nbraces < 0:
            self.fout.append(b"}" * (-nbraces))

    # ------------------------------------------------------------- buffers

    def _add_to_raw(self, c: int) -> None:
        # rtfproc.c:908-938
        if len(self.raw) + 1 >= RAW_BUFFER_SIZE:
            if self.txt:
                self._reset_txt_by(len(self.txt))
            self._output_raw_by(len(self.raw))
            self._reset_raw_by(len(self.raw))
        self.raw.append(c)

    def _add_to_txt(self, c: int) -> None:
        # rtfproc.c:942-991
        a = self.attr
        if a.uccountdown:
            a.uccountdown -= 1
            return
        if not self.deferred:
            if self.raw and not self.txt:
                self._output_raw_by(len(self.raw))
                self._reset_raw_by(len(self.raw))
            if len(self.txt) + 1 >= TXT_BUFFER_SIZE:
                self._output_raw_by(len(self.raw))
                self._reset_raw_by(len(self.raw))
                self._reset_txt_by(len(self.txt))
            self.txtrawmap[len(self.txt)] = len(self.raw)
        if c == 0:
            self.deferred = True
            return
        self.txt.append(c)
        self.deferred = False
        self.txt_dirty = True

    def _add_string_to_txt(self, s: bytes) -> None:
        # rtfproc.c:1006-1025
        if len(self.txt) + len(s) >= TXT_BUFFER_SIZE:
            self._output_raw_by(len(self.raw))
            self._reset_raw_by(len(self.raw))
            self._reset_txt_by(len(self.txt))
        for b in s:
            self._add_to_txt(b)

    def _add_cmd_to_raw(self, cmd: bytes) -> None:
        # rtfproc.c:1029-1053 — may flush raw+txt but NEVER the in-flight cmd.
        # The C copies the cmd buffer as a NUL-terminated string
        # (``while (*s)``, rtfproc.c:1051), so a NUL byte consumed inside a
        # command (only possible in a \'hh payload) truncates the command's
        # raw contribution from the NUL onward.
        nul = cmd.find(0)
        if nul >= 0:
            cmd = cmd[:nul]
        if len(self.raw) + len(cmd) >= RAW_BUFFER_SIZE:
            self._output_raw_by(len(self.raw))
            self._reset_raw_by(len(self.raw))
            self._reset_txt_by(len(self.txt))
        self.raw += cmd

    def _reset_raw_by(self, amt: int) -> None:
        # rtfproc.c:1057-1068
        del self.raw[:amt]

    def _reset_txt_by(self, amt: int) -> None:
        # rtfproc.c:1072-1085 — drained text is the plain_text output;
        # txtrawmap deliberately NOT shifted (C leaves the array in place).
        if amt:
            self.ftxt.append(bytes(self.txt[:amt]))
            del self.txt[:amt]
            self.txt_dirty = True

    def _output_raw_by(self, amt: int) -> None:
        # rtfproc.c:1180-1194; amt beyond the live buffer reads the zeroed
        # tail of the C array.
        if amt <= 0:
            return
        live = len(self.raw)
        if amt <= live:
            self.fout.append(bytes(self.raw[:amt]))
        else:
            self.fout.append(bytes(self.raw) + b"\x00" * (amt - live))

    # ------------------------------------------------------ attribute stack

    def _push_attr(self) -> None:
        # rtfproc.c:1209-1233 — clears uccountdown on the *current* scope
        # before the copy, so both frames start at 0.
        self.attr.uccountdown = 0
        self.attr = self.attr.copy_into_child()

    def _pop_attr(self) -> None:
        # rtfproc.c:1237-1251 — popping at the root is a safe no-op.
        if self.attr is not self.topattr:
            self.attr = self.attr.outer


_utf8 = utf8_from_cdpt

# word -> (action_code, arg) memo shared by all engines in the worker
# (pure function of the word bytes; bounded so adversarial input cannot
# grow it without limit)
_WORD_MEMO: dict[bytes, tuple[int, int | None]] = {}
_WORD_MEMO_MAX = 4096


def _parse_word(word: bytes) -> tuple[int, int | None]:
    """Classify a command word exactly as proc_command's if/else chain
    (rtfproc.c:564-618): 0 unknown, 1 par, 2 line, 3 fonttbl, 4 shunt,
    5 \\u, 6 \\uc, 7 \\f, 8 \\fcharset, 9 \\cchs (arg = resolved codepage),
    10 \\deff."""
    m = _RE_CMDSPLIT.fullmatch(word)
    if m is None:
        return (0, None)
    letters, num = m.group(1, 2)
    if num is None:
        if letters == b"par":
            return (1, None)
        if letters == b"line":
            return (2, None)
        if letters == b"fonttbl":
            return (3, None)
        if letters in _SHUNT_WORDS:
            return (4, None)
        return (0, None)
    if letters == b"u":  # sign allowed only for \u (rtfproc.c:581)
        return (5, int(num))
    if num[0] == 0x2D:
        return (0, None)
    if letters == b"uc":
        return (6, int(num))
    if letters == b"f":
        return (7, int(num))
    if letters == b"fcharset":
        return (8, int(num))
    if letters == b"cchs":
        return (9, _cp.cpgfromcharsetnum(int(num)))
    if letters == b"deff":
        return (10, int(num))
    return (0, None)


def _span_text(rs: ReplacementSet, span: bytes) -> bytes:
    """Text-domain image of a bulk span: command bytes drop out (par/line
    contribute newlines), text bytes get the \r\n-delete / \v->space
    transform — exactly what the per-byte loop would have drained."""
    if b"\\" not in span:  # command-free span: pure byte transform
        return span.translate(_TXT_TRANSLATE, _TXT_DELETE)
    parts = []
    pos = 0
    for m in rs.strip_cmds.finditer(span):
        if m.start() > pos:
            parts.append(span[pos : m.start()].translate(_TXT_TRANSLATE, _TXT_DELETE))
        g = m.group(1)
        if g == b"par":
            parts.append(b"\n\n")
        elif g == b"line":
            parts.append(b"\n")
        pos = m.end()
    if pos < len(span):
        parts.append(span[pos:].translate(_TXT_TRANSLATE, _TXT_DELETE))
    return b"".join(parts)
