"""filter_lua: the pure-Python Lua 5.1 interpreter + the Spark operator.

Interpreter semantics follow the Lua 5.1 manual; the filter contract
follows plugins/filter_lua/lua.c (return code -1/0/1/2, 1->N array
split) and src/flb_lua.c (number packing, table-vs-array detection).
Golden cases mirror /root/reference/tests/runtime/filter_lua.c and the
shipped /root/reference/scripts/*.lua verbatim.
"""

from __future__ import annotations

import json
import os

import pytest

from fluent_bit_spark.lua.interp import Interpreter, LuaError, LuaTable
from fluent_bit_spark.lua.lexer import LuaSyntaxError
from fluent_bit_spark.lua.parser import parse
from fluent_bit_spark.operators.lua_filter import (
    LuaScript,
    lua_filter,
    lua_filter_typed,
    lua_to_py,
    py_to_lua,
)


def run(src: str):
    """Run `src`, return the value of global `r`."""
    i = Interpreter()
    i.run_ast(parse(src))
    return i.get_global("r")


def call(src: str, fn: str, args: list):
    i = Interpreter()
    i.run_ast(parse(src))
    return i.call(i.get_global(fn), args)


# ------------------------------------------------------ interpreter


class TestInterpreter:
    def test_arithmetic_and_precedence(self):
        assert run("r = 2 + 3 * 4 ^ 2 - 10 / 4") == 47.5
        assert run("r = -2 ^ 2") == -4.0  # ^ binds tighter than unary -
        assert run("r = 7 % 3") == 1.0
        assert run("r = -7 % 3") == 2.0  # Lua modulo follows divisor sign

    def test_string_concat_and_tostring_coercion(self):
        assert run("r = 'a' .. 'b' .. 1 .. 2.5") == "ab12.5"
        assert run("r = tostring(10.0)") == "10"
        assert run("r = tostring(10.25)") == "10.25"
        assert run("r = tostring(nil) .. tostring(true)") == "niltrue"

    def test_tonumber(self):
        assert run("r = tonumber('  42  ')") == 42.0
        assert run("r = tonumber('0x1F')") == 31.0
        assert run("r = tonumber('ff', 16)") == 255.0
        assert run("r = tonumber('zz')") is None

    def test_comparisons_and_logic(self):
        assert run("r = (1 < 2) and 'yes' or 'no'") == "yes"
        assert run("r = nil and 1 or 2") == 2.0
        assert run("r = false == nil") is False  # distinct types
        assert run("r = 'a' < 'b'") is True

    def test_control_flow(self):
        assert run(
            "r = 0 for i = 1, 10 do if i % 2 == 0 then r = r + i end end"
        ) == 30.0
        assert run("r = 0 for i = 10, 1, -2 do r = r + i end") == 30.0
        assert run("r = 0 local i = 0 while i < 5 do i = i + 1 r = r + i end") == 15.0
        assert run("r = 0 repeat r = r + 1 until r >= 3") == 3.0
        assert (
            run("r = 0 for i = 1, 10 do if i > 3 then break end r = r + i end")
            == 6.0
        )

    def test_functions_closures_recursion(self):
        assert (
            call(
                "function fib(n) if n < 2 then return n end "
                "return fib(n-1) + fib(n-2) end",
                "fib",
                [10.0],
            )[0]
            == 55.0
        )
        assert run(
            "local function counter() local n = 0 "
            "return function() n = n + 1 return n end end "
            "local c = counter() c() c() r = c()"
        ) == 3.0

    def test_varargs_and_select(self):
        assert run("function f(...) return select('#', ...) end r = f(1,2,3)") == 3.0
        assert run("function f(...) local a, b = ... return b end r = f(10,20,30)") == 20.0

    def test_multiple_returns_truncate_mid_list(self):
        # a call mid-expression-list yields exactly one value (5.1 §2.5)
        assert run(
            "function two() return 1, 2 end "
            "local t = {two(), two()} r = #t"
        ) == 3.0

    def test_tables_and_length(self):
        assert run("local t = {10, 20, 30} r = #t") == 3.0
        assert run("local t = {a=1, b=2} r = t.a + t['b']") == 3.0
        assert run("local t = {} t[1]='x' t[2]='y' r = #t") == 2.0

    def test_table_library(self):
        assert run(
            "local t = {3, 1, 2} table.sort(t) r = table.concat(t, ',')"
        ) == "1,2,3"
        assert run(
            "local t = {1, 2} table.insert(t, 3) table.insert(t, 1, 0) "
            "r = table.concat(t, '')"
        ) == "0123"
        assert run("local t = {1, 2, 3} table.remove(t, 1) r = t[1]") == 2.0

    def test_string_library(self):
        assert run("r = string.format('%s=%d/%.2f', 'k', 7, 1.5)") == "k=7/1.50"
        assert run("r = string.sub('hello', 2, 4)") == "ell"
        assert run("r = string.sub('hello', -3)") == "llo"
        assert run("r = ('abc'):upper()") == "ABC"  # string metatable method call
        assert run("r = string.rep('ab', 3)") == "ababab"
        assert run("r = string.byte('A')") == 65.0
        assert run("r = string.char(72, 105)") == "Hi"

    def test_lua_patterns(self):
        assert run("r = string.match('key=value', '(%w+)=(%w+)')") == "key"
        assert run("r = string.gsub('a-b-c', '%-', '_')") == "a_b_c"
        assert run("r = select(2, string.gsub('a-b-c', '%-', '_'))") == 2.0
        assert run("r = string.find('hello world', 'wor')") == 7.0
        assert run(
            "r = '' for w in string.gmatch('one two three', '%a+') do "
            "r = r .. w:sub(1,1) end"
        ) == "ott"
        assert run("r = string.match('  x  ', '^%s*(.-)%s*$')") == "x"

    def test_pcall_and_error(self):
        assert run("r = pcall(function() error('boom') end)") is False
        assert run(
            "local ok, err = pcall(function() error('boom') end) r = err"
        ).endswith("boom")
        assert run("r = pcall(function() return 1 end)") is True

    def test_metatables_index(self):
        assert run(
            "local base = {greet = 'hi'} local t = setmetatable({}, "
            "{__index = base}) r = t.greet"
        ) == "hi"

    def test_math_and_os(self):
        assert run("r = math.floor(3.7) + math.ceil(3.2)") == 7.0
        assert run("r = math.max(1, 5, 3) * math.min(2, 8)") == 10.0
        assert run("r = math.huge > 1e308") is True
        assert run("r = type(os.time())") == "number"

    def test_syntax_error_raises_on_parse(self):
        with pytest.raises(LuaSyntaxError):
            parse("function broken( end")

    def test_runtime_error_is_lua_error(self):
        with pytest.raises(LuaError):
            run("r = nil + 1")


# --------------------------------------------- value mapping (flb_lua.c)


class TestValueMapping:
    def test_integral_floats_emit_ints(self):
        # flb_lua.c:248-262: lua_isinteger pack path
        assert lua_to_py(10.0) == 10 and isinstance(lua_to_py(10.0), int)
        assert lua_to_py(10.25) == 10.25

    def test_type_int_key_forces_int(self):
        # lua_config.c:130 + runtime test flb_test_type_int_key
        assert lua_to_py(10.2, int_keys=frozenset(["lua_int"]), _key="x") == 10.2
        t = LuaTable()
        t.raw_set("lua_int", 10.2)
        assert lua_to_py(t, int_keys=frozenset(["lua_int"])) == {"lua_int": 10}

    def test_array_vs_map_detection(self):
        # flb_lua.c lua_table_maxn > 0 branch
        arr = py_to_lua([1, 2, 3])
        assert lua_to_py(arr) == [1, 2, 3]
        assert lua_to_py(py_to_lua({})) == {}
        assert lua_to_py(py_to_lua({"a": 1})) == {"a": 1}

    def test_roundtrip_nested(self):
        v = {"a": [1, "x", {"b": 2}], "c": True, "d": 1.5}
        assert lua_to_py(py_to_lua(v)) == v

    def test_null_values_drop_like_lua_nil(self):
        # default reference behavior: msgpack nil -> lua nil, and a nil
        # table value erases the key (flb_test_enable_flb_null exists to
        # opt OUT of this; the opt-in default drops the key)
        assert lua_to_py(py_to_lua({"hello": None, "k": "v"})) == {"k": "v"}


# ------------------------------------------------- LuaScript contract


class TestLuaScript:
    def test_missing_callback_rejected_at_compile(self):
        # lua_config.c flb_lua_is_valid_func init-time check
        with pytest.raises(LuaSyntaxError):
            LuaScript("x = 1", call="cb_filter")

    def test_codes(self):
        s = LuaScript(
            "function cb_filter(tag, ts, r)\n"
            "  if r.op == 'drop' then return -1, 0, 0 end\n"
            "  if r.op == 'keep' then return 0, 0, 0 end\n"
            "  if r.op == 'keepts' then r.new = 1 return 2, ts + 99, r end\n"
            "  r.new = 1 return 1, ts + 1, r\n"
            "end"
        )
        rt = s.make_runtime()
        assert rt.invoke("t", 5.0, {"op": "drop"})[0] == -1
        assert rt.invoke("t", 5.0, {"op": "keep"}) == (0, 5.0, {"op": "keep"})
        code, ts, rec = rt.invoke("t", 5.0, {"op": "mod"})
        assert (code, ts, rec) == (1, 6.0, {"op": "mod", "new": 1})
        code, ts, rec = rt.invoke("t", 5.0, {"op": "keepts"})
        assert (code, ts) == (2, 5.0)  # code 2 keeps original timestamp

    def test_protected_mode_keeps_record(self):
        s = LuaScript("function cb_filter(t, ts, r) return 1, ts, r.x.y end")
        rt = s.make_runtime()
        assert rt.invoke("t", 1.0, {"a": 1}) == (0, 1.0, {"a": 1})
        assert rt.errors == 1
        s2 = LuaScript(
            "function cb_filter(t, ts, r) return 1, ts, r.x.y end",
            protected_mode=False,
        )
        with pytest.raises(LuaError):
            s2.make_runtime().invoke("t", 1.0, {"a": 1})

    def test_time_as_table(self):
        # flb_lua.c:44-51 pushtimetable: {sec=, nsec=} in and out
        s = LuaScript(
            "function cb_filter(tag, ts, r)\n"
            "  r.sec = ts.sec r.nsec = ts.nsec\n"
            "  return 1, {sec = ts.sec + 1, nsec = 500000000}, r\n"
            "end",
            time_as_table=True,
        )
        code, ts, rec = s.make_runtime().invoke("t", 10.25, {})
        assert code == 1
        assert ts == pytest.approx(11.5)
        assert rec["sec"] == 10 and rec["nsec"] == 250000000

    def test_state_persists_across_invokes(self):
        # one lua_State per filter instance: rate_limit.lua-style counters
        s = LuaScript(
            "local n = 0\n"
            "function cb_filter(tag, ts, r)\n"
            "  n = n + 1 if n > 2 then return -1, 0, 0 end return 0, 0, 0\n"
            "end"
        )
        rt = s.make_runtime()
        codes = [rt.invoke("t", 0.0, {})[0] for _ in range(4)]
        assert codes == [0, 0, -1, -1]


# ------------------------------------------- reference script goldens


class TestReferenceScripts:
    def test_append_tag_lua_verbatim(self, reference_dir):
        src = open(os.path.join(reference_dir, "scripts", "append_tag.lua")).read()
        s = LuaScript(src, call="append_tag")
        code, ts, rec = s.make_runtime().invoke("kube.app", 7.0, {"k": "v"})
        assert (code, ts, rec) == (1, 7.0, {"k": "v", "tag": "kube.app"})

    def test_override_time_lua_verbatim(self, reference_dir):
        src = open(os.path.join(reference_dir, "scripts", "override_time.lua")).read()
        s = LuaScript(src, call="override_time")
        code, ts, rec = s.make_runtime().invoke(
            "t", 1.0, {"KEY_OF_TIMESTAMP": 1530239065.807368, "data": "sample"}
        )
        assert code == 1 and ts == pytest.approx(1530239065.807368)
        assert rec["data"] == "sample"

    def test_test_lua_cb_replace_verbatim(self, reference_dir):
        src = open(os.path.join(reference_dir, "scripts", "test.lua")).read()
        s = LuaScript(src, call="cb_replace")
        code, ts, rec = s.make_runtime().invoke("t", 3.0, {"key": "val"})
        assert code == 1
        assert rec == {"new": 12345, "old": {"key": "val"}}

    def test_rate_limit_lua_verbatim(self, reference_dir):
        src = open(os.path.join(reference_dir, "scripts", "rate_limit.lua")).read()
        s = LuaScript(src, call="rate_limit")
        rt = s.make_runtime()
        # group_bucket_limit=6000 is per docker_id; exercise the counter
        # path (the limit itself would need 6k invokes — state test above
        # covers the drop arm)
        rec = {"kubernetes": {"docker_id": "c1"}, "log": "x"}
        assert rt.invoke("kube.a", 0.0, rec)[0] == 0
        assert rt.invoke("kube.a", 0.0, rec)[0] == 0

    def test_drop_all_records_golden(self):
        # tests/runtime/filter_lua.c flb_test_drop_all_records
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            "    return -1, 0, 0\n"
            "end",
            call="lua_main",
        )
        assert s.make_runtime().invoke("test", 0.0, {"key": "val"})[0] == -1

    def test_type_int_key_golden(self):
        # tests/runtime/filter_lua.c flb_test_type_int_key:
        # lua_int=10.2 with type_int_key must emit "lua_int":10
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            "    new_record = record\n"
            '    new_record["lua_int"] = 10.2\n'
            "    return 1, timestamp, new_record\n"
            "end",
            call="lua_main",
            type_int_key=("lua_int",),
        )
        code, ts, rec = s.make_runtime().invoke("test", 0.0, {"key": "val"})
        assert rec["lua_int"] == 10 and isinstance(rec["lua_int"], int)

    def test_helloworld_golden(self):
        # tests/runtime/filter_lua.c flb_test_helloworld: print() runs,
        # code 0 keeps the record untouched
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            '    print("hello world")\n'
            "    return 0, timestamp, record\n"
            "end",
            call="lua_main",
        )
        code, ts, rec = s.make_runtime().invoke("test", 1.5, {"key": "val"})
        assert (code, ts, rec) == (0, 1.5, {"key": "val"})

    def test_type_int_key_multi_golden(self):
        # tests/runtime/filter_lua.c flb_test_type_int_key_multi:
        # "type_int_key", "lua_int_1 lua_int_2" -> both serialize as ints
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            "    new_record = record\n"
            '    new_record["lua_int_1"] = 10.1\n'
            '    new_record["lua_int_2"] = 100.2\n'
            "    return 1, timestamp, new_record\n"
            "end",
            call="lua_main",
            type_int_key=("lua_int_1", "lua_int_2"),
        )
        _, _, rec = s.make_runtime().invoke("test", 0.0, {"key": "val"})
        out = json.dumps(rec, sort_keys=True)
        assert '"lua_int_1": 10,' in out and '"lua_int_2": 100' in out

    def test_type_array_key_golden(self):
        # tests/runtime/filter_lua.c flb_test_type_array_key (issue #3343):
        # script-created {} under type_array_key -> [], {1,2,3} -> [1,2,3]
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            "    new_record = record\n"
            '    new_record["lua_array"] = {};\n'
            '    new_record["lua_array2"] = {1,2,3};\n'
            "    return 1, timestamp, new_record\n"
            "end",
            call="lua_main",
            type_array_key=("lua_array", "lua_array2"),
        )
        _, _, rec = s.make_runtime().invoke("test", 0.0, {"key": "val"})
        out = json.dumps(rec, sort_keys=True, separators=(",", ":"))
        assert '"lua_array":[]' in out
        assert '"lua_array2":[1,2,3]' in out

    def test_array_contains_null_golden(self):
        # tests/runtime/filter_lua.c flb_test_array_contains_null
        # (issue #3433): nil holes inside a decoded array survive the
        # round-trip — output must contain [1,null,"world"]
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            "    new_record = record\n"
            '    new_record["modify"] = "yes"\n'
            "    return 1, timestamp, new_record\n"
            "end",
            call="lua_main",
        )
        _, _, rec = s.make_runtime().invoke(
            "test", 0.0, {"hello": [1, None, "world"]}
        )
        out = json.dumps(rec, sort_keys=True, separators=(",", ":"))
        assert '[1,null,"world"]' in out and '"modify":"yes"' in out

    def test_enable_flb_null_golden(self):
        # tests/runtime/filter_lua.c flb_test_enable_flb_null (issue
        # #5251): with enable_flb_null a top-level null value survives;
        # without it the key vanishes (msgpack nil -> lua nil)
        src = (
            "function lua_main(tag, timestamp, record)\n"
            "    return 1, timestamp, record\n"
            "end"
        )
        on = LuaScript(src, call="lua_main", enable_flb_null=True)
        _, _, rec = on.make_runtime().invoke("test", 0.0, {"hello": None})
        assert json.dumps(rec) == '{"hello": null}'
        off = LuaScript(src, call="lua_main")
        _, _, rec = off.make_runtime().invoke("test", 0.0, {"hello": None})
        assert rec == {}

    def test_flb_null_visible_to_script(self):
        # the global is set before script load (lua.c:143-144), so a
        # script can both test against it and emit it
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            "    if record.hello == flb_null then\n"
            '        record["was_null"] = true\n'
            "    end\n"
            '    record["emit_null"] = flb_null\n'
            "    return 1, timestamp, record\n"
            "end",
            call="lua_main",
            enable_flb_null=True,
        )
        _, _, rec = s.make_runtime().invoke("t", 0.0, {"hello": None})
        assert rec == {"hello": None, "was_null": True, "emit_null": None}

    def test_split_record_golden(self):
        # tests/runtime/filter_lua.c flb_test_split_record (issue #5496):
        # returning record.x (an array of maps) with ts 5 emits
        # [5.000000,{"a1":"aa"}][5.000000,{"b1":"bb"}][5.000000,{"c1":"cc"}]
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            "    return 1, 5, record.x\n"
            "end",
            call="lua_main",
        )
        code, ts, recs = s.make_runtime().invoke(
            "test", 0.0,
            {"x": [{"a1": "aa"}, {"b1": "bb"}, {"c1": "cc"}]},
        )
        assert (code, ts) == (1, 5.0)
        assert recs == [{"a1": "aa"}, {"b1": "bb"}, {"c1": "cc"}]

    def test_empty_array_golden(self):
        # tests/runtime/filter_lua.c flb_test_empty_array: expected
        # output is exactly [5.000000,{"key":[]}] — the decoded-array
        # metatable marker keeps [] an array even though Lua can't
        # distinguish {} from {} (flb_lua_setmetatable, flb_lua.c:67-86)
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            "    return 1, 5, record\n"
            "end",
            call="lua_main",
        )
        code, ts, rec = s.make_runtime().invoke("test", 0.0, {"key": []})
        assert (code, ts) == (1, 5.0)
        assert json.dumps(rec, separators=(",", ":")) == '{"key":[]}'

    def test_invalid_metatable_golden(self):
        # tests/runtime/filter_lua.c flb_test_invalid_metatable: the
        # record's metatable (the decode-time type marker) is mutated;
        # the filter must still emit the record, not crash
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            "    meta = getmetatable(record)\n"
            '    meta[10] = "hoge"\n'
            "    return 1, timestamp, record\n"
            "end",
            call="lua_main",
        )
        code, _, rec = s.make_runtime().invoke("test", 0.0, {"key": "val"})
        assert code == 1 and rec == {"key": "val"}

    def test_unmarked_sparse_table_packs_as_map(self):
        # flb_lua_arraylength (flb_lua.c:304-336): a script-built table
        # with integer-key holes is NOT an array — packs as a map
        s = LuaScript(
            "function lua_main(tag, timestamp, record)\n"
            "    local t = {}\n"
            '    t[1] = "a"\n'
            '    t[3] = "c"\n'
            '    record["sparse"] = t\n'
            "    return 1, timestamp, record\n"
            "end",
            call="lua_main",
        )
        _, _, rec = s.make_runtime().invoke("t", 0.0, {})
        assert rec == {"sparse": {"1": "a", "3": "c"}}


# ------------------------------------------------------ Spark operator


class TestSparkOperator:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                ("app.a", 1.0, "GET", 200),
                ("app.b", 2.0, "POST", 500),
                ("app.c", 3.0, "GET", 404),
            ],
            "tag string, event_time double, method string, status int",
        )

    SCRIPT = """
function cb_filter(tag, ts, record)
  if record["status"] >= 500 then return -1, ts, record end
  if record["method"] == "GET" then
    record["cached"] = true
    local audit = {event = "audit", status = record["status"]}
    return 1, ts, {record, audit}
  end
  return 0, ts, record
end
"""

    def test_drop_modify_split(self, spark):
        out = lua_filter(self._df(spark), self.SCRIPT)
        rows = [
            (r.tag, r.ts, json.loads(r.record))
            for r in sorted(out.collect(), key=lambda r: (r.tag, r.record))
        ]
        tags = [t for t, _, _ in rows]
        assert tags == ["app.a", "app.a", "app.c", "app.c"]  # 500 dropped, 1->2
        assert rows[1][2] == {"event": "audit", "status": 200}
        assert rows[0][2]["cached"] is True

    def test_typed_wrapper_schema_and_gate(self, spark):
        from pyspark.sql import functions as F

        df = self._df(spark)
        out = lua_filter_typed(
            df,
            self.SCRIPT,
            extra_schema="cached boolean, event string",
            gate=F.col("tag") != "app.b",  # app.b bypasses the script
        )
        assert out.columns == ["tag", "event_time", "method", "status",
                               "cached", "event"]
        rows = {(r.tag, r.event, r.status): r for r in out.collect()}
        assert len(rows) == 5  # 2 originals split to 4, app.b bypassed
        assert rows[("app.b", None, 500)].method == "POST"
        assert rows[("app.a", None, 200)].cached is True
        assert rows[("app.a", "audit", 200)].method is None

    def test_typed_wrapper_carries_seq(self, spark):
        df = spark.createDataFrame(
            [("t", 0, "x")], "tag string, _seq long, v string"
        )
        out = lua_filter_typed(
            df,
            "function cb(t, ts, r) r.v = r.v .. '!' return 2, ts, r end",
            call="cb",
        )
        row = out.collect()[0]
        assert (row._seq, row.v) == (0, "x!")

    def test_classic_conf_lua(self, spark, tmp_path):
        from fluent_bit_spark.classic import build_classic_pipeline

        lua_path = tmp_path / "f.lua"
        lua_path.write_text(
            "function go(tag, ts, record)\n"
            "  if record['n'] == '1' then return -1, 0, 0 end\n"
            "  record['seen'] = tag\n"
            "  return 2, ts, record\n"
            "end\n"
        )
        conf = f"""
[INPUT]
    Name dummy
    Tag t1
    Dummy {{"msg":"hello","n":"1"}}
    Samples 2

[INPUT]
    Name dummy
    Tag t2
    Dummy {{"msg":"world","n":"2"}}
    Samples 1

[FILTER]
    Name lua
    Match t*
    script {lua_path}
    call go
    result_schema seen string

[OUTPUT]
    Name file
    Match *
    Format json
"""
        p = build_classic_pipeline(spark, conf)
        rows = p.records.collect()
        assert len(rows) == 1  # both t1 samples dropped
        assert rows[0].msg == "world" and rows[0].seen == "t2"

    def test_classic_conf_lua_requires_call(self, spark):
        from fluent_bit_spark.classic import build_classic_pipeline

        conf = """
[INPUT]
    Name dummy
    Tag t1

[FILTER]
    Name lua
    Match *
    code function f() end

[OUTPUT]
    Name file
    Match *
"""
        with pytest.raises(ValueError, match="call"):
            build_classic_pipeline(spark, conf)


# ---------------------------------------------- processor-group goldens


class TestGroupLuaProcessor:
    """Mirrors tests/runtime/filter_lua.c flb_test_group_lua_processor_*:
    dummy input -> opentelemetry_envelope -> content_modifier inserts on
    the resource/scope attribute contexts -> a lua unit. The lua unit
    sees only the log body (record_cols); the envelope columns — the
    group metadata/body in the reference — pass through untouched."""

    def _pipeline(self, spark, lua_src):
        from fluent_bit_spark.operators.content_modifier import content_modifier
        from fluent_bit_spark.operators.otel_envelope import otel_envelope_cols

        df = spark.createDataFrame(
            [("test", 0.0, "Hello, Fluent Bit!", {"record_meta": "ok"})],
            "tag string, event_time double, message string, "
            "metadata map<string,string>",
        )
        env = otel_envelope_cols(df)
        env = content_modifier(
            env, "insert", "my_res_attr", "my_value",
            context="otel_resource_attributes",
        )
        env = content_modifier(
            env, "insert", "my_scope_attr", "my_value",
            context="otel_scope_attributes",
        )
        return lua_filter_typed(
            env, lua_src, call="noop",
            record_cols=["message"], extra_schema="new_field string",
        )

    def test_group_no_modified_golden(self, spark):
        out = self._pipeline(
            spark,
            "function noop(tag, timestamp, record)\n"
            "  return 0, timestamp, record\n"
            "end",
        ).collect()
        assert len(out) == 1
        r = out[0]
        # cb_check_group_no_modified: group metadata intact, attribute
        # inserts visible, log body preserved
        assert (r.otel_schema, r.resource_id, r.scope_id) == ("otlp", 0, 0)
        assert r.resource == {"my_res_attr": "my_value"}
        assert r.scope == {"my_scope_attr": "my_value"}
        assert r.message == "Hello, Fluent Bit!"
        assert r.metadata == {"record_meta": "ok"}

    def test_group_modified_golden(self, spark):
        out = self._pipeline(
            spark,
            "function noop(tag, timestamp, record)\n"
            "  record[\"new_field\"] = 'This is a new field from Lua'\n"
            "  return 1, timestamp, record\n"
            "end",
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r.message == "Hello, Fluent Bit!"
        assert r.new_field == "This is a new field from Lua"
        assert r.resource == {"my_res_attr": "my_value"}
        assert r.scope == {"my_scope_attr": "my_value"}

    def test_group_drop_golden(self, spark):
        # flb_test_group_lua_drop: code -1 -> zero delivered events
        out = self._pipeline(
            spark,
            "function noop(tag, ts, record)\n"
            "  return -1, ts, record\n"
            "end",
        ).collect()
        assert out == []

    def test_scope_name_version_context(self, spark):
        from fluent_bit_spark.operators.content_modifier import content_modifier
        from fluent_bit_spark.operators.otel_envelope import otel_envelope_cols

        df = spark.createDataFrame(
            [("t", "x")], "tag string, message string"
        )
        env = otel_envelope_cols(df)
        env = content_modifier(env, "upsert", "my.scope", context="otel_scope_name")
        env = content_modifier(env, "upsert", "1.2.3", context="otel_scope_version")
        r = env.collect()[0]
        assert r.scope == {"name": "my.scope", "version": "1.2.3"}

    def test_map_context_ops(self, spark):
        from fluent_bit_spark.operators.content_modifier import content_modifier
        from fluent_bit_spark.operators.otel_envelope import otel_envelope_cols

        df = spark.createDataFrame([("t", "x")], "tag string, message string")
        env = otel_envelope_cols(df)
        env = content_modifier(env, "insert", "a", "1",
                               context="otel_resource_attributes")
        # insert must not overwrite
        env = content_modifier(env, "insert", "a", "2",
                               context="otel_resource_attributes")
        env = content_modifier(env, "upsert", "b", "3",
                               context="otel_resource_attributes")
        env = content_modifier(env, "rename", "b", "c",
                               context="otel_resource_attributes")
        r = env.collect()[0]
        assert r.resource == {"a": "1", "c": "3"}
        env = content_modifier(env, "delete", "c",
                               context="otel_resource_attributes")
        assert env.collect()[0].resource == {"a": "1"}
