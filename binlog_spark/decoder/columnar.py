"""Compiled columnar decode for ARBITRARY table schemas.

Decoding each row into Python objects (``decode_value`` per cell through
a cursor object, as the sequential oracle does) and rendering a
canonical-JSON image per row with ``json.dumps`` runs ~10× slower per
core than the vectorized repo_files kernel.  This module closes most of
that gap by COMPILING a reader per rows-event layout (the reference's
layout spec is the reference's rbr.go:246-350 + types.go:118-304):

  * one generated function per (TABLE_MAP, columns-present bitmaps,
    mode, op) reads every row of an event; each cell read is inline
    source specialized on (type, meta, unsigned, charset) — no per-cell
    type dispatch, no cursor objects, plain offset arithmetic over the
    event body (JSON cells call one compile_column closure each)
  * values are rendered STRAIGHT to their output string form — a JSON
    fragment (mode='json', byte-identical to the sequential oracle's
    ``_image_json``) or a raw cell string (mode='vals', for the typed
    lake path) — no intermediate datetime/dict objects
  * the row image's JSON is assembled from precomputed sorted-key
    prefixes: one string concatenation per image

decoder.generic drives these readers for arbitrary tables and for the
chunks the vectorized kernel declines.  Compiled readers are cached per
distinct TABLE_MAP body and columns-present bitmap, so MySQL's
re-emitted identical TABLE_MAPs cost one dict hit.
"""

from __future__ import annotations

import json as _json
import struct

from .. import constants as C

_esc = _json.encoder.encode_basestring_ascii  # C-accelerated


def compile_column(col, mode: str):
    """One (bytes, pos) -> (fragment, new_pos) closure for a column type
    the whole-event codegen does not inline (JSON), or None for a type
    no reader exists for.

    mode='json': fragment is a canonical-JSON value fragment.
    mode='vals': fragment is the raw cell string (lake-castable)."""
    if col.type != C.TYPE_JSON:
        return None
    as_json = mode == "json"

    def rd(b, pos, lw=col.meta):
        # direct JSONB→text render: no intermediate dict tree, no
        # json.dumps re-walk (byte-identical output; jsonb.render_json)
        from ..mysql.jsonb import render_json
        ln = int.from_bytes(b[pos:pos + lw], "little")
        pos += lw
        s = render_json(bytes(b[pos:pos + ln]))
        return (_esc(s) if as_json else s), pos + ln
    return rd


# ---------------------------------------------------------------------------
# whole-event codegen
# ---------------------------------------------------------------------------

#: types whose read is emitted INLINE in the generated source (no helper
#: call per cell); everything else goes through a compile_column closure
_INLINE_INTS = {C.TYPE_TINY: 1, C.TYPE_SHORT: 2, C.TYPE_INT24: 3,
                C.TYPE_LONG: 4, C.TYPE_LONGLONG: 8}


def _emit_cell(i: int, col, mode: str, env: dict) -> list[str]:
    """Source lines that read column ``i`` into ``v{i}`` and advance
    ``pos``.  Simple fixed-layout types are inlined; complex ones call a
    per-column closure from ``env`` (one call per cell)."""
    t = col.type
    as_json = mode == "json"
    null_v = "'null'" if as_json else "None"
    lines = [f"if nm >> {i} & 1:", f"    v{i} = {null_v}", "else:"]

    def body(*src: str) -> list[str]:
        return lines + [f"    {s}" for s in src]

    if t in (C.TYPE_VARCHAR, C.TYPE_STRING):
        read = ("ln = b[pos]; pos += 1" if col.meta < 256 else
                "ln = b[pos] | (b[pos + 1] << 8); pos += 2")
        val = "str(b[pos:pos+ln], 'utf-8')"
        if as_json:
            val = f"_esc({val})"
        return body(read, f"v{i} = {val}; pos += ln")

    if t in _INLINE_INTS:
        w = _INLINE_INTS[t]
        if w == 1:
            rd = "b[pos]"
        else:
            rd = f"int.from_bytes(b[pos:pos+{w}], 'little')"
        if col.unsigned:
            return body(f"v{i} = str({rd}); pos += {w}")
        half, full = 1 << (w * 8 - 1), 1 << (w * 8)
        return body(f"u = {rd}; pos += {w}",
                    f"v{i} = str(u - {full} if u >= {half} else u)")

    if t == C.TYPE_YEAR:
        return body(f"u = b[pos]; pos += 1",
                    f"v{i} = str(1900 + u) if u else '0'")

    if t == C.TYPE_DATE:
        q = '"' if as_json else ""
        return body(
            "u = int.from_bytes(b[pos:pos+3], 'little'); pos += 3",
            f"v{i} = ('{q}%04d-%02d-%02d{q}' % (u // 512, u // 32 % 16, "
            f"u % 32)) if u else {null_v}")

    if t == C.TYPE_BIT:
        nbits = ((col.meta >> 8) * 8) + (col.meta & 0xFF)
        size = (nbits + 7) // 8
        return body(
            f"v{i} = str(int.from_bytes(b[pos:pos+{size}], 'big'))",
            f"pos += {size}")

    if t == C.TYPE_FLOAT:
        return body(f"v{i} = repr(_upf('<f', b, pos)[0]); pos += 4")
    if t == C.TYPE_DOUBLE:
        return body(f"v{i} = repr(_upf('<d', b, pos)[0]); pos += 8")

    if t == C.TYPE_ENUM:
        w = 1 if col.meta == 1 else 2
        rd = "b[pos]" if w == 1 else "b[pos] | (b[pos + 1] << 8)"
        if not as_json:
            return body(f"v{i} = str({rd}); pos += {w}")
        env[f"ev{i}"] = tuple(col.values or ())
        return body(
            f"u = {rd}; pos += {w}",
            f"lb = _esc(ev{i}[u - 1]) if 0 < u <= {len(col.values or ())} "
            f"else '\"\"'" if col.values else "lb = 'null'",
            f"v{i} = '{{\"idx\": %d, \"label\": %s}}' % (u, lb)")

    if t == C.TYPE_SET:
        nb_ = col.meta
        rd = ("b[pos]" if nb_ == 1 else
              f"int.from_bytes(b[pos:pos+{nb_}], 'little')")
        if not as_json:
            return body(f"v{i} = str({rd}); pos += {nb_}")
        env[f"sv{i}"] = tuple(col.values or ())
        mem = (f"'[' + ', '.join(_esc(x) for j, x in enumerate(sv{i}) "
               f"if u >> j & 1) + ']'" if col.values else "'null'")
        return body(
            f"u = {rd}; pos += {nb_}",
            f"v{i} = '{{\"mask\": %d, \"members\": %s}}' % (u, {mem})")

    if t in (C.TYPE_BLOB, C.TYPE_GEOMETRY):
        lw = col.meta
        read = (f"ln = b[pos]; pos += 1" if lw == 1 else
                f"ln = int.from_bytes(b[pos:pos+{lw}], 'little'); "
                f"pos += {lw}")
        if col.charset in C.BINARY_CHARSETS:
            val = "b[pos:pos+ln].hex()"
            if as_json:
                val = f"'{{\"$hex\": \"%s\"}}' % ({val})"
        else:
            val = "str(b[pos:pos+ln], 'utf-8', 'replace')"
            if as_json:
                val = f"_esc({val})"
        return body(read, f"v{i} = {val}; pos += ln")

    if t == C.TYPE_NEWDECIMAL:
        precision, scale = col.meta & 0xFF, col.meta >> 8
        integral = precision - scale
        comp = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]
        if integral <= 9 and scale <= 9:
            # single compressed group each side: inline the unpack
            # (semantics of mysql.decode.decode_decimal)
            ci, cf = comp[integral], comp[scale]
            size = ci + cf
            top = 1 << (size * 8 - 1)
            mask = (1 << (size * 8)) - 1
            if scale:
                fmt = f"'%d.%0{scale}d' % (u >> {cf * 8}, u & {(1 << (cf * 8)) - 1})"
            else:
                fmt = "'%d' % u"
            q0, q1 = ("'\"' + ", " + '\"'") if as_json else ("", "")
            return body(
                f"u = int.from_bytes(b[pos:pos+{size}], 'big'); "
                f"pos += {size}",
                f"neg = not (u & {top})",
                f"u ^= {top}",
                f"u = ~u & {mask} if neg else u",
                f"v{i} = {q0}('-' if neg else '') + {fmt}{q1}")
        # multi-group: inline the base-10^9 group decomposition too
        # (byte-exact with mysql.decode.decode_decimal incl. the lstrip;
        # the reference decodes these inline as well, types.go:395-463)
        ui, uf = integral // 9, scale // 9
        ci, cf = integral - ui * 9, scale - uf * 9
        size = ui * 4 + comp[ci] + uf * 4 + comp[cf]
        bits = size * 8
        top, mask = 1 << (bits - 1), (1 << bits) - 1
        o = 0
        int_terms, frac_terms = [], []
        if comp[ci]:
            sh = 8 * (size - o - comp[ci])
            int_terms.append(
                f"str((u >> {sh}) & {(1 << (8 * comp[ci])) - 1})")
            o += comp[ci]
        else:
            int_terms.append("'0'")
        for _ in range(ui):
            sh = 8 * (size - o - 4)
            int_terms.append(f"'%09d' % ((u >> {sh}) & 4294967295)")
            o += 4
        for _ in range(uf):
            sh = 8 * (size - o - 4)
            frac_terms.append(f"'%09d' % ((u >> {sh}) & 4294967295)")
            o += 4
        if comp[cf]:
            sh = 8 * (size - o - comp[cf])
            frac_terms.append(
                f"'%0{cf}d' % ((u >> {sh}) & {(1 << (8 * comp[cf])) - 1})")
            o += comp[cf]
        q0, q1 = ("'\"' + ", " + '\"'") if as_json else ("", "")
        lines_ = [
            f"u = int.from_bytes(b[pos:pos+{size}], 'big'); pos += {size}",
            f"neg = not (u & {top})",
            f"u ^= {top}",
            f"u = ~u & {mask} if neg else u",
            f"s_ = ({' + '.join(int_terms)}).lstrip('0') or '0'",
        ]
        if frac_terms:
            lines_.append(f"v{i} = {q0}('-' if neg else '') + s_ + '.' + "
                          f"{' + '.join(frac_terms)}{q1}")
        else:
            lines_.append(f"v{i} = {q0}('-' if neg else '') + s_{q1}")
        return body(*lines_)

    if t in (C.TYPE_DATETIME2, C.TYPE_TIMESTAMP2):
        n = (col.meta + 1) // 2
        mul = 100 ** (3 - n) if n else 0
        env.setdefault("_gm", __import__("time").gmtime)
        if t == C.TYPE_DATETIME2:
            head = [
                "u = int.from_bytes(b[pos:pos+5], 'big'); pos += 5",
                "ym = (u >> 22) & 131071",
                f"v{i} = '%04d-%02d-%02dT%02d:%02d:%02d' % "
                "(ym // 13, ym % 13, (u >> 17) & 31, (u >> 12) & 31, "
                "(u >> 6) & 63, u & 63)",
            ]
        else:
            head = [
                "u = int.from_bytes(b[pos:pos+4], 'big'); pos += 4",
                "tmv = _gm(u)",
                f"v{i} = '%04d-%02d-%02dT%02d:%02d:%02d' % tmv[:6]",
            ]
        tail = []
        if n:
            tail.append(f"fr = int.from_bytes(b[pos:pos+{n}], 'big') "
                        f"* {mul}; pos += {n}")
            tail.append(f"if fr: v{i} += '.%06d' % fr")
        if as_json:
            tail.append(f"v{i} = '\"' + v{i} + '\"'")
        return body(*head, *tail)

    if t == C.TYPE_TIME2:
        n = (col.meta + 1) // 2
        mul = 100 ** (3 - n) if n else 0
        lines2 = [
            "u = int.from_bytes(b[pos:pos+3], 'big'); pos += 3",
            "hh = (u >> 12) & 1023; mm2 = (u >> 6) & 63; ss = u & 63",
            "if u >> 23 & 1:",
        ]
        if n:
            lines2 += [
                f"    fr = int.from_bytes(b[pos:pos+{n}], 'big') * {mul}"
                f"; pos += {n}",
            ]
        else:
            lines2 += ["    fr = 0"]
        lines2 += [
            f"    v{i} = str((hh * 3600 + mm2 * 60 + ss) * 1000000 + fr)",
            "else:",
            "    hh = ~hh & 1023; mm2 = ~mm2 & 63; ss = ~ss & 63",
        ]
        if n:
            lines2 += [
                f"    fr = int.from_bytes(b[pos:pos+{n}], 'big'); pos += {n}",
                "    if fr:",
                f"        fr = ((~fr) & {(1 << (n * 8)) - 1}) + 1",
                f"    fr *= {mul}",
            ]
        else:
            lines2 += ["    fr = 0"]
        lines2 += [
            # reference's "+1s" quirk (/root/reference/types.go:279-281)
            "    if fr == 0 and ss < 59: ss += 1",
            f"    v{i} = str(-((hh * 3600 + mm2 * 60 + ss) * 1000000 + fr))",
        ]
        return body(*lines2)

    # complex types: one helper-closure call per cell
    rd = compile_column(col, mode)
    if rd is None:
        return None
    env[f"h{i}"] = rd
    return body(f"v{i}, pos = h{i}(b, pos)")


def compile_event_reader(tme, present0: bytes, present1: bytes | None,
                         mode: str, single_target: str = "after"):
    """exec-compiled whole-event reader: loops all rows of one rows-event
    in generated code, returning (new_pos, before_list, after_list).

    ``present1`` is None for write/delete events (single image, appended
    to ``single_target``: 'after' for I, 'before' for D); for updates
    image0 is the before-image, image1 the after-image."""
    env: dict = {"_esc": _esc, "_upf": struct.unpack_from}

    def image_lines(present: bytes, out_var: str) -> list[str] | None:
        ords = _bitmap_ordinals(present, len(tme.columns))
        cols = [tme.columns[i] for i in ords]
        nb = (len(cols) + 7) // 8
        lines = ([f"nm = b[pos]; pos += 1"] if nb == 1 else
                 [f"nm = int.from_bytes(b[pos:pos+{nb}], 'little'); "
                  f"pos += {nb}"])
        for i, c in enumerate(cols):
            cell = _emit_cell(i, c, mode, env)
            if cell is None:
                return None
            lines += cell
        if mode == "json":
            names = [c.name if c.name else f"@{c.ordinal}" for c in cols]
            order = sorted(range(len(cols)), key=lambda i: names[i])
            if not order:
                expr = "'{}'"
            else:
                parts = []
                for rank, i in enumerate(order):
                    head = "{" if rank == 0 else ", "
                    key = _esc(names[i])
                    parts.append(repr(f"{head}{key}: ") + f" + v{i}")
                expr = " + ".join(parts) + " + '}'"
        else:
            # full-length array in TABLE_MAP ordinal order: columns absent
            # from the image (MINIMAL partial images) hold None at their
            # ordinal, so downstream element_at stays positionally stable
            # (the presence bitmap rides separately — decoder.generic emits
            # before_present/after_present)
            pos_of = {o: i for i, o in enumerate(ords)}
            cells = [f"v{pos_of[o]}" if o in pos_of else "None"
                     for o in range(len(tme.columns))]
            expr = "[" + ", ".join(cells) + "]"
        return lines + [f"{out_var}({expr})"]

    body = ["def _ev(b, pos, end):",
            "    bs = []; as_ = []",
            "    ab = bs.append; aa = as_.append",
            "    while pos < end:"]
    if present1 is None:
        img = image_lines(present0,
                          "aa" if single_target == "after" else "ab")
        if img is None:
            return None
        body += ["        " + ln for ln in img]
    else:
        img0 = image_lines(present0, "ab")
        img1 = image_lines(present1, "aa")
        if img0 is None or img1 is None:
            return None
        body += ["        " + ln for ln in img0]
        body += ["        " + ln for ln in img1]
    body.append("    return pos, bs, as_")
    exec(compile("\n".join(body), "<event-reader>", "exec"), env)
    return env["_ev"]


def _bitmap_ordinals(bm: bytes, ncol: int) -> list[int]:
    return [i for i in range(ncol) if (bm[i >> 3] >> (i & 7)) & 1]


class RowsDecoder:
    """Per-TABLE_MAP compiled rows-event decoder: whole-event readers
    cached per (present bitmaps, mode, op)."""

    __slots__ = ("tme", "ev_cache")

    def __init__(self, tme) -> None:
        self.tme = tme
        self.ev_cache: dict[tuple, object] = {}

    _MISSING = object()

    def event_reader(self, present0: bytes, present1: bytes | None,
                     mode: str, op: str):
        """Compiled whole-event reader, or None for uncompilable types."""
        key = (present0, present1, mode, op)
        fn = self.ev_cache.get(key, self._MISSING)
        if fn is self._MISSING:
            fn = compile_event_reader(
                self.tme, present0, present1, mode,
                single_target="before" if op == "D" else "after")
            self.ev_cache[key] = fn
        return fn
