"""filter_wasm: the pure-Python WebAssembly interpreter + operator.

Contract mirrored from plugins/filter_wasm/filter_wasm.c (result
disposition: trap/NULL/empty -> skip, JSON object -> replace body,
invalid JSON -> drop) and src/wasm/flb_wasm.c:249 (call ABI, dup_data
placement). Interpreter semantics vs the wasm core spec.
"""

from __future__ import annotations

import json
import os
import struct

import pytest

from fluent_bit_spark.wasm import builder as wb
from fluent_bit_spark.wasm.builder import ModuleBuilder, demo_filter_module
from fluent_bit_spark.wasm.interp import Instance, WasmTrap
from fluent_bit_spark.wasm.module import F64, I32, I64, WasmDecodeError, decode_module
from fluent_bit_spark.operators.wasm_filter import (
    WasmScript,
    wasm_filter,
    wasm_filter_typed,
)


def one_func(params, results, locals_, body, export="f"):
    b = ModuleBuilder()
    b.add_func(params, results, locals_, body, export=export)
    return Instance(b.build())


def op(name):
    return bytes([wb._SIMPLE[name]])


def run1(params, results, body, args, locals_=()):
    return one_func(params, results, list(locals_), body).invoke("f", args)[0]


# ------------------------------------------------------------ interpreter


class TestNumeric:
    def test_i32_arith_wraps(self):
        body = wb.local_get(0) + wb.local_get(1) + op("i32_add")
        assert run1((I32, I32), (I32,), body, [0xFFFFFFFF, 1]) == 0
        body = wb.local_get(0) + wb.local_get(1) + op("i32_mul")
        assert run1((I32, I32), (I32,), body, [0x10000, 0x10000]) == 0

    def test_i32_div_semantics(self):
        body = wb.local_get(0) + wb.local_get(1) + op("i32_div_s")
        # -7 / 2 truncates toward zero -> -3
        assert run1((I32, I32), (I32,), body, [(-7) & 0xFFFFFFFF, 2]) == (-3) & 0xFFFFFFFF
        with pytest.raises(WasmTrap, match="divide by zero"):
            run1((I32, I32), (I32,), body, [1, 0])
        with pytest.raises(WasmTrap, match="overflow"):
            run1((I32, I32), (I32,), body, [0x80000000, 0xFFFFFFFF])

    def test_i32_rem_sign_follows_dividend(self):
        body = wb.local_get(0) + wb.local_get(1) + op("i32_rem_s")
        assert run1((I32, I32), (I32,), body, [(-7) & 0xFFFFFFFF, 3]) == (-1) & 0xFFFFFFFF

    def test_shift_counts_mod_32(self):
        body = wb.local_get(0) + wb.local_get(1) + op("i32_shl")
        assert run1((I32, I32), (I32,), body, [1, 33]) == 2

    def test_shr_s_arithmetic(self):
        body = wb.local_get(0) + wb.local_get(1) + op("i32_shr_s")
        assert run1((I32, I32), (I32,), body, [0x80000000, 1]) == 0xC0000000

    def test_clz_ctz_popcnt(self):
        assert run1((I32,), (I32,), wb.local_get(0) + op("i32_clz"), [1]) == 31
        assert run1((I32,), (I32,), wb.local_get(0) + op("i32_clz"), [0]) == 32
        assert run1((I32,), (I32,), wb.local_get(0) + op("i32_ctz"), [8]) == 3
        assert run1((I32,), (I32,), wb.local_get(0) + op("i32_popcnt"), [0xF0F0]) == 8

    def test_rotl(self):
        body = wb.local_get(0) + wb.local_get(1) + op("i32_rotl")
        assert run1((I32, I32), (I32,), body, [0x80000001, 1]) == 3

    def test_i64_ops(self):
        body = wb.local_get(0) + wb.local_get(1) + op("i64_mul")
        assert (
            run1((I64, I64), (I64,), body, [2**63 - 1, 2])
            == (2**64 - 2)
        )
        body = wb.local_get(0) + wb.local_get(1) + op("i64_lt_s")
        assert run1((I64, I64), (I64,), body, [2**64 - 1, 0]) == 1  # -1 < 0

    def test_f64_and_conversions(self):
        body = wb.local_get(0) + op("i32_trunc_f64_s")
        assert run1((F64,), (I32,), body, [-3.7]) == (-3) & 0xFFFFFFFF
        with pytest.raises(WasmTrap):
            run1((F64,), (I32,), body, [3e10])
        with pytest.raises(WasmTrap):
            run1((F64,), (I32,), body, [float("nan")])
        # saturating variant clamps instead
        body = wb.local_get(0) + b"\xfc\x02"
        assert run1((F64,), (I32,), body, [3e10]) == 0x7FFFFFFF

    def test_f32_rounds_to_binary32(self):
        body = wb.local_get(0) + op("f32_demote_f64")
        got = run1((F64,), (I32,), body + op("i32_reinterpret_f32"), [0.1])
        assert got == struct.unpack("<I", struct.pack("<f", 0.1))[0]

    def test_sign_extension_ops(self):
        body = wb.local_get(0) + op("i32_extend8_s")
        assert run1((I32,), (I32,), body, [0xFF]) == 0xFFFFFFFF
        assert run1((I32,), (I32,), body, [0x7F]) == 0x7F


class TestControl:
    def test_block_br(self):
        # block { br 0; unreachable } -> falls past
        body = wb.block() + wb.br(0) + wb.UNREACHABLE + wb.END + wb.i32_const(7)
        assert run1((), (I32,), body, []) == 7

    def test_loop_counts(self):
        # sum 1..n with a loop
        body = b"".join([
            wb.block(),
            wb.loop(),
            wb.local_get(0), op("i32_eqz"), wb.br_if(1),
            wb.local_get(1), wb.local_get(0), op("i32_add"), wb.local_set(1),
            wb.local_get(0), wb.i32_const(1), op("i32_sub"), wb.local_set(0),
            wb.br(0),
            wb.END, wb.END,
            wb.local_get(1),
        ])
        assert run1((I32,), (I32,), body, [10], locals_=[I32]) == 55

    def test_if_else_result(self):
        body = (
            wb.local_get(0)
            + wb.if_(I32)
            + wb.i32_const(1)
            + wb.ELSE
            + wb.i32_const(2)
            + wb.END
        )
        assert run1((I32,), (I32,), body, [5]) == 1
        assert run1((I32,), (I32,), body, [0]) == 2

    def test_br_table(self):
        body = (
            wb.block() + wb.block() + wb.block()
            + wb.local_get(0) + wb.br_table([0, 1], 2)
            + wb.END + wb.i32_const(10) + wb.RETURN + wb.END
            + wb.i32_const(20) + wb.RETURN + wb.END
            + wb.i32_const(30)
        )
        assert run1((I32,), (I32,), body, [0]) == 10
        assert run1((I32,), (I32,), body, [1]) == 20
        assert run1((I32,), (I32,), body, [9]) == 30

    def test_branch_truncates_stack_keeping_result(self):
        # block(i32) { 1; 2; br 0 } -> br keeps top value only
        body = (
            wb.block(I32)
            + wb.i32_const(1)
            + wb.i32_const(2)
            + wb.br(0)
            + wb.END
        )
        assert run1((), (I32,), body, []) == 2

    def test_call_and_call_indirect(self):
        b = ModuleBuilder()
        sq = b.add_func((I32,), (I32,), [], wb.local_get(0) + wb.local_get(0) + op("i32_mul"))
        dbl = b.add_func((I32,), (I32,), [], wb.local_get(0) + wb.i32_const(2) + op("i32_mul"))
        b.set_table([sq, dbl])
        ti = b.type_idx((I32,), (I32,))
        body = wb.local_get(0) + wb.local_get(1) + wb.call_indirect(ti)
        b.add_func((I32, I32), (I32,), [], body, export="dispatch")
        inst = Instance(b.build())
        assert inst.invoke("dispatch", [5, 0]) == [25]
        assert inst.invoke("dispatch", [5, 1]) == [10]
        with pytest.raises(WasmTrap, match="undefined table element"):
            inst.invoke("dispatch", [5, 9])

    def test_unreachable_traps(self):
        with pytest.raises(WasmTrap, match="unreachable"):
            run1((), (), wb.UNREACHABLE, [])

    def test_recursion(self):
        # fib via self-call
        b = ModuleBuilder()
        body = (
            wb.local_get(0) + wb.i32_const(2) + op("i32_lt_u")
            + wb.if_(I32)
            + wb.local_get(0)
            + wb.ELSE
            + wb.local_get(0) + wb.i32_const(1) + op("i32_sub") + wb.call(0)
            + wb.local_get(0) + wb.i32_const(2) + op("i32_sub") + wb.call(0)
            + op("i32_add")
            + wb.END
        )
        b.add_func((I32,), (I32,), [], body, export="fib")
        assert Instance(b.build()).invoke("fib", [15]) == [610]


class TestMemory:
    def test_load_store_roundtrip(self):
        body = (
            wb.i32_const(16) + wb.local_get(0) + wb.i32_store()
            + wb.i32_const(16) + wb.i32_load()
        )
        assert run1((I32,), (I32,), body, [0xDEADBEEF]) == 0xDEADBEEF

    def test_load8_sign(self):
        b = ModuleBuilder()
        b.add_data(0, b"\xff")
        b.add_func((), (I32,), [], wb.i32_const(0) + wb._memarg(0x2C, 0), export="f")
        assert Instance(b.build()).invoke("f", []) == [0xFFFFFFFF]

    def test_oob_traps(self):
        body = wb.i32_const(0x7FFFFFFF) + wb.i32_load()
        with pytest.raises(WasmTrap, match="out of bounds"):
            run1((), (I32,), body, [])

    def test_memory_grow_and_size(self):
        body = wb.i32_const(2) + wb.MEMORY_GROW + wb.DROP + wb.MEMORY_SIZE
        assert run1((), (I32,), body, []) == 3

    def test_memory_fill_copy(self):
        body = (
            wb.i32_const(0) + wb.i32_const(0x41) + wb.i32_const(4) + wb.MEMORY_FILL
            + wb.i32_const(8) + wb.i32_const(0) + wb.i32_const(4) + wb.MEMORY_COPY
            + wb.i32_const(8) + wb.i32_load()
        )
        assert run1((), (I32,), body, []) == 0x41414141

    def test_globals_persist_across_calls(self):
        b = ModuleBuilder()
        g = b.add_global(I32, True, wb.i32_const(100))
        body = (
            wb.global_get(g) + wb.i32_const(1) + op("i32_add")
            + wb.global_set(g) + wb.global_get(g)
        )
        b.add_func((), (I32,), [], body, export="bump")
        inst = Instance(b.build())
        assert inst.invoke("bump", []) == [101]
        assert inst.invoke("bump", []) == [102]

    def test_dup_data_prefers_exported_malloc(self):
        b = ModuleBuilder()
        g = b.add_global(I32, True, wb.i32_const(4096))
        body = (
            wb.global_get(g)
            + wb.global_get(g) + wb.local_get(0) + op("i32_add") + wb.global_set(g)
        )
        b.add_func((I32,), (I32,), [], body, export="malloc")
        inst = Instance(b.build())
        p1 = inst.dup_data(b"hello")
        p2 = inst.dup_data(b"world")
        assert (p1, p2) == (4096, 4101)
        assert bytes(inst.memory[4096:4106]) == b"helloworld"


class TestModuleDecode:
    def test_bad_magic(self):
        with pytest.raises(WasmDecodeError, match="bad magic"):
            decode_module(b"\0nope\x01\0\0\0")

    def test_unresolved_import(self):
        b = ModuleBuilder()
        b.import_func("env", "mystery", (I32,), (I32,))
        b.add_func((), (I32,), [], wb.i32_const(0) + wb.call(0), export="f")
        with pytest.raises(WasmDecodeError, match="unresolved import"):
            Instance(b.build())

    def test_wasi_imports_resolve(self):
        b = ModuleBuilder()
        fd_write = b.import_func(
            "wasi_snapshot_preview1", "fd_write", (I32, I32, I32, I32), (I32,)
        )
        b.add_data(0, b"hi")
        # iovec at 16: base=0 len=2
        body = (
            wb.i32_const(16) + wb.i32_const(0) + wb.i32_store()
            + wb.i32_const(20) + wb.i32_const(2) + wb.i32_store()
            + wb.i32_const(1) + wb.i32_const(16) + wb.i32_const(1)
            + wb.i32_const(24) + wb.call(fd_write)
        )
        b.add_func((), (I32,), [], body, export="say")
        inst = Instance(b.build())
        assert inst.invoke("say", []) == [0]
        assert inst.captured_output == [b"hi"]


# --------------------------------------------------------------- operator


REC = json.dumps  # shorthand


class TestWasmScript:
    def test_missing_function_raises_on_driver(self):
        wasm = demo_filter_module()
        with pytest.raises(WasmDecodeError, match="not found"):
            WasmScript(wasm, function_name="nope")

    def test_invoke_contract(self):
        rt = WasmScript(
            demo_filter_module(needle=b'"drop":true'), "flb_filter"
        ).make_runtime()
        assert rt.invoke("t", 0.0, '{"drop":true}') is None
        assert rt.invoke("t", 0.0, '{"keep":1}') == '{"keep":1,"wasm":1}'

    def test_bump_rewinds_across_records(self):
        rt = WasmScript(demo_filter_module(), "flb_filter").make_runtime()
        for _ in range(50):
            assert rt.invoke("t", 1.5, '{"a":1}') == '{"a":1,"wasm":1}'
        # stable memory: scratch page grown once, dup allocations rewound
        assert len(rt.instance.memory) <= 6 * 65536


class TestSparkOperator:
    @pytest.fixture(scope="class")
    def spark(self):
        from fluent_bit_spark.session import get_spark

        return get_spark("test-wasm", master="local[4]")

    def test_wasm_filter_drop_and_modify(self, spark):
        df = spark.createDataFrame(
            [("ev.a", 1.0, "view", 10), ("ev.a", 2.0, "click", 20)],
            "tag string, event_time double, event_type string, v long",
        )
        wasm = demo_filter_module(needle=b'"event_type":"view"')
        out = wasm_filter(df, wasm).collect()
        assert len(out) == 1
        rec = json.loads(out[0]["record"])
        assert rec == {"event_type": "click", "v": 20, "wasm": 1}
        assert out[0]["ts"] == 2.0  # timestamp preserved

    def test_wasm_filter_typed_schema(self, spark):
        df = spark.createDataFrame(
            [("ev.a", 1.0, "view", 10), ("ev.b", 2.0, "click", 20)],
            "tag string, event_time double, event_type string, v long",
        )
        wasm = demo_filter_module(needle=b'"event_type":"view"')
        out = wasm_filter_typed(df, wasm, extra_schema="wasm bigint")
        rows = out.collect()
        assert [c for c in out.columns] == [
            "tag", "event_time", "event_type", "v", "wasm",
        ]
        assert len(rows) == 1
        assert rows[0]["wasm"] == 1 and rows[0]["event_type"] == "click"

    def test_classic_conf_wasm(self, spark, tmp_path):
        from fluent_bit_spark.classic import build_classic_pipeline

        wasm_path = tmp_path / "flt.wasm"
        wasm_path.write_bytes(demo_filter_module(needle=b'"message":"skip"'))
        conf = f"""
[INPUT]
    Name lib
    Tag  ev.test

[FILTER]
    Name wasm
    Match ev.*
    WASM_Path {wasm_path}
    Function_Name flb_filter
    result_schema wasm bigint

[OUTPUT]
    Name null
    Match *
"""
        lib = spark.createDataFrame(
            [("ev.test", "skip"), ("ev.test", "hello")],
            "tag string, message string",
        )
        pipe = build_classic_pipeline(spark, conf, lib_inputs={"ev.test": lib})
        rows = pipe.records.collect()
        assert len(rows) == 1
        assert rows[0]["message"] == "hello" and rows[0]["wasm"] == 1

    def test_trap_skips_record(self, spark):
        # a filter that always hits unreachable -> every record skipped
        b = ModuleBuilder()
        b.add_func(
            wb.FILTER_PARAMS, (I32,), [], wb.UNREACHABLE + wb.i32_const(0),
            export="flb_filter",
        )
        df = spark.createDataFrame(
            [("t", 1.0, 1)], "tag string, event_time double, v long"
        )
        assert wasm_filter(df, b.build()).count() == 0


# ------------------------------------------- reference binary goldens


@pytest.fixture
def load_wasm(reference_dir):
    """Loader of the reference's prebuilt tests/runtime/data/wasm
    binaries."""

    def load(name: str, fn: str, **kw) -> WasmScript:
        path = os.path.join(reference_dir, "tests", "runtime", "data", "wasm", name)
        with open(path, "rb") as fh:
            return WasmScript(fh.read(), fn, **kw)

    return load


class TestReferenceBinaries:
    """Replay the PREBUILT .wasm fixtures the reference's runtime suite
    ships (tests/runtime/filter_wasm.c TEST_LIST) through the pure-
    Python interpreter, asserting the same output substrings the C
    tests grep for. These are real wasm32-wasi binaries (Rust/TinyGo
    toolchains, ~500 KB, full libc + allocator), so passing them is an
    end-to-end check of the decoder, the WASI stub surface, and the
    filter ABI against artifacts we did not build."""

    def test_helloworld_golden(self, load_wasm):
        # flb_test_helloworld: say_hello.wasm passes the record through
        rt = load_wasm("say_hello.wasm", "filter_say_hello").make_runtime()
        assert rt.invoke("test.wasm", 0.0, '{"key":"val"}') == '{"key":"val"}'
        assert rt.errors == 0

    def test_append_tag_golden(self, load_wasm):
        # flb_test_append_tag asserts "tag":"test.wasm" in the output
        rt = load_wasm("append_tag.wasm", "filter_append_tag").make_runtime()
        out = rt.invoke("test.wasm", 0.0, '{"key":"val"}')
        assert out is not None and '"tag":"test.wasm"' in out

    def test_numeric_records_golden(self, load_wasm):
        # flb_test_numerics_records: ints must serialize WITHOUT a
        # fraction, floats with — the C test greps both polarities
        rt = load_wasm(
            "numeric_records.wasm", "filter_numeric_records"
        ).make_runtime()
        out = rt.invoke("test.wasm", 1234.0, '{"key":"val"}')
        assert out is not None
        assert '"wasm_int1":10.' not in out and '"wasm_int1":10' in out
        assert '"wasm_int2":100.' not in out and '"wasm_int2":100' in out
        assert '"wasm_float1":10.5' in out
        assert '"wasm_float2":100.5' in out
        assert '"wasm_exp_float":0.00354' in out
        assert '"wasm_truncate_float":120' in out
        assert '"wasm_truncate_float":120.' not in out

    def test_array_contains_null_golden(self, load_wasm):
        # flb_test_array_contains_null: modify_record.wasm must keep
        # [1,null,"world"] intact and add "modify":"yes"
        rt = load_wasm("modify_record.wasm", "filter_modify_record").make_runtime()
        out = rt.invoke("test.wasm", 0.0, '{"hello": [1, null, "world"]}')
        assert out is not None
        assert '[1,null,"world"]' in out and '"modify":"yes"' in out

    def test_drop_all_records_golden(self, load_wasm):
        # flb_test_drop_all_records: drop_record.wasm returns NULL
        rt = load_wasm("drop_record.wasm", "filter_drop_record").make_runtime()
        assert rt.invoke("test.wasm", 0.0, '{"key":"val"}') is None

    def test_append_kv_on_msgpack_golden(self, load_wasm):
        # flb_test_append_kv_on_msgpack: event_format msgpack, the Rust
        # binary appends platform=wasm to the msgpack map
        rt = load_wasm(
            "msgpack/filter_rust_mp.wasm",
            "rust_filter_mp",
            event_format="msgpack",
        ).make_runtime()
        out = rt.invoke("test.wasm.mp", 0.0, '{"key":"val"}')
        assert out is not None
        rec = json.loads(out)
        assert rec["platform"] == "wasm" and rec["key"] == "val"

    def test_state_persists_within_instance(self, load_wasm):
        # same instance across records (one per chunk/partition): the
        # libc allocator inside the binary must survive repeated calls
        rt = load_wasm("append_tag.wasm", "filter_append_tag").make_runtime()
        for i in range(5):
            out = rt.invoke("t", float(i), json.dumps({"n": i}))
            assert out is not None and f'"n":{i}' in out
        assert rt.errors == 0


class TestMpackCodec:
    def test_roundtrip(self):
        from fluent_bit_spark.wasm.mpack import packb, unpackb

        v = {
            "nil": None, "t": True, "f": False, "small": 5, "neg": -3,
            "u8": 200, "u16": 40000, "u32": 3_000_000_000,
            "i64": -(2**40), "pi": 3.25, "s": "héllo",
            "long" * 10: "x" * 300,
            "arr": [1, None, "world"], "nested": {"a": [{}]},
            "bin": b"\x00\x01\xff",
        }
        assert unpackb(packb(v)) == v

    def test_fixint_boundaries(self):
        from fluent_bit_spark.wasm.mpack import packb, unpackb

        for n in (0, 127, 128, -32, -33, 255, 256, 65535, 65536,
                  2**32 - 1, 2**32, -(2**31), 2**63 - 1, -(2**63)):
            assert unpackb(packb(n)) == n

    def test_reference_wire_format(self):
        from fluent_bit_spark.wasm.mpack import packb

        # {"key":"val"} must be the canonical fixmap/fixstr bytes the
        # reference's msgpack C library produces
        assert packb({"key": "val"}) == b"\x81\xa3key\xa3val"
