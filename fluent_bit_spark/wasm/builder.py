"""Minimal wasm module assembler.

Builds core-wasm-1.0 binaries programmatically — used by the tests and
by ``demo_filter_module()`` to synthesize deterministic filter
binaries without a toolchain in the sandbox (no clang/rustc here; the
reference ships prebuilt .wasm test artifacts instead,
/root/reference/tests/runtime/wasm/*.wasm — same role).

The op helpers return raw instruction bytes; function bodies are just
``b"".join([...])`` of them. Branch labels use wasm's structured
relative depths, so no fixups are needed.
"""

from __future__ import annotations

from .module import F32, F64, I32, I64

# ------------------------------------------------------------- encoding


def uleb(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def sleb(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if (n == 0 and not b & 0x40) or (n == -1 and b & 0x40):
            out.append(b)
            return bytes(out)
        out.append(b | 0x80)


def _vec(items: list[bytes]) -> bytes:
    return uleb(len(items)) + b"".join(items)


def _section(sec_id: int, payload: bytes) -> bytes:
    return bytes([sec_id]) + uleb(len(payload)) + payload


# ------------------------------------------------------------ op helpers

END = b"\x0b"
ELSE = b"\x05"
RETURN = b"\x0f"
UNREACHABLE = b"\x00"
DROP = b"\x1a"
SELECT = b"\x1b"
VOID = 0x40


def block(result: int = VOID) -> bytes:
    return bytes([0x02, result])


def loop(result: int = VOID) -> bytes:
    return bytes([0x03, result])


def if_(result: int = VOID) -> bytes:
    return bytes([0x04, result])


def br(depth: int) -> bytes:
    return b"\x0c" + uleb(depth)


def br_if(depth: int) -> bytes:
    return b"\x0d" + uleb(depth)


def br_table(targets: list[int], default: int) -> bytes:
    return b"\x0e" + _vec([uleb(t) for t in targets]) + uleb(default)


def call(idx: int) -> bytes:
    return b"\x10" + uleb(idx)


def call_indirect(type_idx: int) -> bytes:
    return b"\x11" + uleb(type_idx) + b"\x00"


def local_get(i: int) -> bytes:
    return b"\x20" + uleb(i)


def local_set(i: int) -> bytes:
    return b"\x21" + uleb(i)


def global_get(i: int) -> bytes:
    return b"\x23" + uleb(i)


def global_set(i: int) -> bytes:
    return b"\x24" + uleb(i)


def i32_const(n: int) -> bytes:
    return b"\x41" + sleb(n if n < 0x80000000 else n - 0x100000000)


def _memarg(op: int, offset: int, align: int = 0) -> bytes:
    return bytes([op]) + uleb(align) + uleb(offset)


def i32_load(offset: int = 0) -> bytes:
    return _memarg(0x28, offset, 2)


def i32_load8_u(offset: int = 0) -> bytes:
    return _memarg(0x2D, offset)


def i32_store(offset: int = 0) -> bytes:
    return _memarg(0x36, offset, 2)


MEMORY_SIZE = b"\x3f\x00"
MEMORY_GROW = b"\x40\x00"
MEMORY_COPY = b"\xfc\x0a\x00\x00"
MEMORY_FILL = b"\xfc\x0b\x00"

# bare numeric ops (name -> opcode byte)
_SIMPLE = {
    "i32_eqz": 0x45, "i32_eq": 0x46, "i32_ne": 0x47, "i32_lt_s": 0x48,
    "i32_lt_u": 0x49, "i32_gt_s": 0x4A, "i32_gt_u": 0x4B, "i32_le_s": 0x4C,
    "i32_le_u": 0x4D, "i32_ge_s": 0x4E, "i32_ge_u": 0x4F,
    "i64_eqz": 0x50, "i64_eq": 0x51, "i64_ne": 0x52, "i64_lt_s": 0x53,
    "i64_lt_u": 0x54, "i64_gt_s": 0x55, "i64_gt_u": 0x56, "i64_le_s": 0x57,
    "i64_le_u": 0x58, "i64_ge_s": 0x59, "i64_ge_u": 0x5A,
    "f32_eq": 0x5B, "f32_ne": 0x5C, "f32_lt": 0x5D, "f32_gt": 0x5E,
    "f32_le": 0x5F, "f32_ge": 0x60,
    "f64_eq": 0x61, "f64_ne": 0x62, "f64_lt": 0x63, "f64_gt": 0x64,
    "f64_le": 0x65, "f64_ge": 0x66,
    "i32_clz": 0x67, "i32_ctz": 0x68, "i32_popcnt": 0x69,
    "i32_add": 0x6A, "i32_sub": 0x6B, "i32_mul": 0x6C, "i32_div_s": 0x6D,
    "i32_div_u": 0x6E, "i32_rem_s": 0x6F, "i32_rem_u": 0x70,
    "i32_and": 0x71, "i32_or": 0x72, "i32_xor": 0x73, "i32_shl": 0x74,
    "i32_shr_s": 0x75, "i32_shr_u": 0x76, "i32_rotl": 0x77, "i32_rotr": 0x78,
    "i64_clz": 0x79, "i64_ctz": 0x7A, "i64_popcnt": 0x7B,
    "i64_add": 0x7C, "i64_sub": 0x7D, "i64_mul": 0x7E, "i64_div_s": 0x7F,
    "i64_div_u": 0x80, "i64_rem_s": 0x81, "i64_rem_u": 0x82,
    "i64_and": 0x83, "i64_or": 0x84, "i64_xor": 0x85, "i64_shl": 0x86,
    "i64_shr_s": 0x87, "i64_shr_u": 0x88, "i64_rotl": 0x89, "i64_rotr": 0x8A,
    "f32_abs": 0x8B, "f32_neg": 0x8C, "f32_ceil": 0x8D, "f32_floor": 0x8E,
    "f32_trunc": 0x8F, "f32_nearest": 0x90, "f32_sqrt": 0x91,
    "f32_add": 0x92, "f32_sub": 0x93, "f32_mul": 0x94, "f32_div": 0x95,
    "f32_min": 0x96, "f32_max": 0x97, "f32_copysign": 0x98,
    "f64_abs": 0x99, "f64_neg": 0x9A, "f64_ceil": 0x9B, "f64_floor": 0x9C,
    "f64_trunc": 0x9D, "f64_nearest": 0x9E, "f64_sqrt": 0x9F,
    "f64_add": 0xA0, "f64_sub": 0xA1, "f64_mul": 0xA2, "f64_div": 0xA3,
    "f64_min": 0xA4, "f64_max": 0xA5, "f64_copysign": 0xA6,
    "i32_wrap_i64": 0xA7,
    "i32_trunc_f64_s": 0xAA, "i32_trunc_f64_u": 0xAB,
    "i64_extend_i32_s": 0xAC, "i64_extend_i32_u": 0xAD,
    "i64_trunc_f64_s": 0xB0,
    "f64_convert_i32_s": 0xB7, "f64_convert_i32_u": 0xB8,
    "f64_convert_i64_s": 0xB9, "f64_convert_i64_u": 0xBA,
    "f64_promote_f32": 0xBB, "f32_demote_f64": 0xB6,
    "i32_reinterpret_f32": 0xBC, "i64_reinterpret_f64": 0xBD,
    "f32_reinterpret_i32": 0xBE, "f64_reinterpret_i64": 0xBF,
    "i32_extend8_s": 0xC0, "i32_extend16_s": 0xC1,
    "i64_extend8_s": 0xC2, "i64_extend16_s": 0xC3, "i64_extend32_s": 0xC4,
}


def __getattr__(name: str) -> bytes:  # module-level op constants
    try:
        return bytes([_SIMPLE[name]])
    except KeyError:
        raise AttributeError(name)


# --------------------------------------------------------------- builder


class ModuleBuilder:
    def __init__(self, mem_pages: int = 1, mem_max: int | None = None):
        self.types: list[tuple[tuple, tuple]] = []
        self.imports: list[bytes] = []
        self.n_imported = 0
        self.funcs: list[tuple[int, list[int], bytes]] = []
        self.exports: list[bytes] = []
        self.data: list[tuple[int, bytes]] = []
        self.elements: list[int] | None = None
        self.mem_pages = mem_pages
        self.mem_max = mem_max
        self.globals: list[tuple[int, bool, bytes]] = []

    def type_idx(self, params: tuple, results: tuple) -> int:
        key = (tuple(params), tuple(results))
        if key not in self.types:
            self.types.append(key)
        return self.types.index(key)

    def import_func(self, module: str, name: str, params: tuple, results: tuple) -> int:
        ti = self.type_idx(params, results)
        enc = (
            uleb(len(module.encode())) + module.encode()
            + uleb(len(name.encode())) + name.encode()
            + b"\x00" + uleb(ti)
        )
        self.imports.append(enc)
        idx = self.n_imported
        self.n_imported += 1
        return idx

    def add_func(
        self,
        params: tuple,
        results: tuple,
        locals_: list[int],
        body: bytes,
        export: str | None = None,
    ) -> int:
        ti = self.type_idx(params, results)
        idx = self.n_imported + len(self.funcs)
        self.funcs.append((ti, locals_, body))
        if export:
            self.export_func(export, idx)
        return idx

    def export_func(self, name: str, idx: int) -> None:
        enc = uleb(len(name.encode())) + name.encode() + b"\x00" + uleb(idx)
        self.exports.append(enc)

    def add_global(self, valtype: int, mutable: bool, init: bytes) -> int:
        self.globals.append((valtype, mutable, init))
        return len(self.globals) - 1

    def add_data(self, offset: int, data: bytes) -> None:
        self.data.append((offset, data))

    def set_table(self, func_idxs: list[int]) -> None:
        self.elements = func_idxs

    def build(self) -> bytes:
        out = b"\0asm\x01\0\0\0"
        type_entries = [
            b"\x60" + _vec([bytes([p]) for p in ps]) + _vec([bytes([r]) for r in rs])
            for ps, rs in self.types
        ]
        out += _section(1, _vec(type_entries))
        if self.imports:
            out += _section(2, _vec(self.imports))
        out += _section(3, _vec([uleb(ti) for ti, _l, _b in self.funcs]))
        if self.elements is not None:
            out += _section(
                4, _vec([b"\x70\x00" + uleb(len(self.elements))])
            )
        mem_limits = (
            b"\x01" + uleb(self.mem_pages) + uleb(self.mem_max)
            if self.mem_max is not None
            else b"\x00" + uleb(self.mem_pages)
        )
        out += _section(5, _vec([mem_limits]))
        if self.globals:
            out += _section(
                6,
                _vec(
                    [
                        bytes([vt, 1 if mut else 0]) + init + END
                        for vt, mut, init in self.globals
                    ]
                ),
            )
        # memory export (WAMR requires it for module_dup_data; harmless)
        mem_exp = uleb(len(b"memory")) + b"memory" + b"\x02\x00"
        out += _section(7, _vec(self.exports + [mem_exp]))
        if self.elements is not None:
            elem = (
                uleb(0) + i32_const(0) + END + _vec([uleb(i) for i in self.elements])
            )
            out += _section(9, _vec([elem]))
        code_entries = []
        for _ti, locs, body in self.funcs:
            # group consecutive identical local types
            groups: list[tuple[int, int]] = []
            for vt in locs:
                if groups and groups[-1][1] == vt:
                    groups[-1] = (groups[-1][0] + 1, vt)
                else:
                    groups.append((1, vt))
            enc = _vec([uleb(c) + bytes([vt]) for c, vt in groups]) + body + END
            code_entries.append(uleb(len(enc)) + enc)
        out += _section(10, _vec(code_entries))
        if self.data:
            segs = [
                uleb(0) + i32_const(off) + END + uleb(len(d)) + d
                for off, d in self.data
            ]
            out += _section(11, _vec(segs))
        return out


# ------------------------------------------------- demo filter binaries

# fluent-bit wasm filter ABI (src/wasm/flb_wasm.c:249):
#   func(tag_ptr:i32, tag_len:i32, sec:i32, nsec:i32, rec_ptr:i32,
#        rec_len:i32) -> i32   (pointer to NUL-terminated JSON, or a
#   pointer to "" to skip the record)
FILTER_PARAMS = (I32, I32, I32, I32, I32, I32)

_EMPTY_ADDR = 1000  # "" (drop marker)
_NEEDLE_ADDR = 1024
_SUFFIX_ADDR = 1152


def demo_filter_module(
    needle: bytes = b'"event_type": "view"',
    suffix: bytes = b',"wasm":1}',
) -> bytes:
    """A real wasm filter: drop any record whose JSON contains
    `needle` (strstr in a hand-assembled double loop), otherwise
    append `suffix` in place of the record's final '}' (memory.grow +
    memory.copy) and return the new record. Exercises loops, branches,
    byte loads, bulk memory, and the module-memory return contract."""
    b = ModuleBuilder(mem_pages=2)
    b.add_data(_EMPTY_ADDR, b"\0")
    b.add_data(_NEEDLE_ADDR, needle)
    b.add_data(_SUFFIX_ADDR, suffix + b"\0")
    # scratch output region: 2 pages grown ONCE on first call and
    # cached in a mutable global — per-record memory.grow would leak a
    # page per record across a long-lived instance (the host rewinds
    # its dup_data bump between records, module growth it cannot)
    b.add_global(I32, True, i32_const(0))
    nl = len(needle)
    # params 0-5; locals: 6=i, 7=j, 8=out
    body = b"".join(
        [
            # if rec_len >= nl: scan for needle
            block(),  # $no_match
            local_get(5), i32_const(nl), bytes([_SIMPLE["i32_lt_u"]]), br_if(0),
            block(),  # $scan_done (falls through = no match)
            loop(),  # $outer
            # i > rec_len - nl ? -> no match
            local_get(6), local_get(5), i32_const(nl), bytes([_SIMPLE["i32_sub"]]),
            bytes([_SIMPLE["i32_gt_u"]]), br_if(1),
            # j = 0
            i32_const(0), local_set(7),
            block(),  # $mismatch
            loop(),  # $inner
            # j == nl ? -> full match: drop record
            local_get(7), i32_const(nl), bytes([_SIMPLE["i32_eq"]]),
            if_(),
            i32_const(_EMPTY_ADDR), RETURN,
            END,
            # rec[i+j] != needle[j] ? -> mismatch
            local_get(4), local_get(6), bytes([_SIMPLE["i32_add"]]),
            local_get(7), bytes([_SIMPLE["i32_add"]]), i32_load8_u(),
            local_get(7), i32_load8_u(_NEEDLE_ADDR),
            bytes([_SIMPLE["i32_ne"]]), br_if(1),
            # j++; continue inner
            local_get(7), i32_const(1), bytes([_SIMPLE["i32_add"]]), local_set(7),
            br(0),
            END,  # inner loop
            END,  # $mismatch block
            # i++; continue outer
            local_get(6), i32_const(1), bytes([_SIMPLE["i32_add"]]), local_set(6),
            br(0),
            END,  # outer loop
            END,  # $scan_done
            END,  # $no_match
            # scratch == 0 ? scratch = memory.grow(2) << 16  (once)
            global_get(0), bytes([_SIMPLE["i32_eqz"]]),
            if_(),
            i32_const(2), MEMORY_GROW,
            i32_const(16), bytes([_SIMPLE["i32_shl"]]), global_set(0),
            END,
            # records larger than the 128 KiB scratch: drop
            local_get(5), i32_const(131072 - len(suffix) - 1),
            bytes([_SIMPLE["i32_gt_u"]]),
            if_(),
            i32_const(_EMPTY_ADDR), RETURN,
            END,
            global_get(0), local_set(8),
            # memcpy(out, rec, rec_len - 1)  [drop final '}']
            local_get(8), local_get(4),
            local_get(5), i32_const(1), bytes([_SIMPLE["i32_sub"]]),
            MEMORY_COPY,
            # memcpy(out + rec_len - 1, suffix, len+1)  [includes NUL]
            local_get(8), local_get(5), bytes([_SIMPLE["i32_add"]]),
            i32_const(1), bytes([_SIMPLE["i32_sub"]]),
            i32_const(_SUFFIX_ADDR), i32_const(len(suffix) + 1),
            MEMORY_COPY,
            local_get(8),
        ]
    )
    b.add_func(FILTER_PARAMS, (I32,), [I32, I32, I32], body, export="flb_filter")
    return b.build()
