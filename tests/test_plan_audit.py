"""The plan-audit sweep's classifier, tested on synthetic plan strings
(the full sweep itself runs as a script and gates on exit code)."""

import scripts.plan_audit as pa


def _kinds(name, plan):
    return {k for k, _ in pa.audit_one(name, plan)}


def test_cartesian_and_python_udf_flagged():
    assert _kinds("x", "CartesianProduct\n") == {"CARTESIAN"}
    assert _kinds("x", "BatchEvalPython [f(y#1)]\n") == {"PY_ROW"}
    # the Arrow-batched escapes are sanctioned, not findings
    assert _kinds("x", "ArrowEvalPython\nMapInPandas\n") == set()


def test_global_sort_respects_allowlist():
    plan = "Exchange rangepartitioning(a#1 ASC, 32)\n"
    assert _kinds("some_entry", plan) == {"GLOBAL_SORT"}
    allowed = next(iter(pa.GLOBAL_SORT_OK))
    assert _kinds(allowed, plan) == set()


def test_global_window_heuristic():
    empty = ("Window [row_number() windowspecdefinition(c#3L DESC NULLS "
             "LAST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
             "currentrow$()))]")
    keyed = ("Window [sum(v#2L) windowspecdefinition(k#1, ts#4 ASC NULLS "
             "FIRST, specifiedwindowframe(RangeFrame, unboundedpreceding$(),"
             " currentrow$()))]")
    assert _kinds("some_entry", empty) == {"GLOBAL_WINDOW"}
    assert _kinds("some_entry", keyed) == set()
    allowed = next(iter(pa.GLOBAL_WINDOW_OK))
    assert _kinds(allowed, empty) == set()


def test_scan_width_only_flags_wide_tables():
    wide = ("Location: InMemoryFileIndex [file:/data/lineitem.parquet]\n"
            "ReadSchema: struct<" + ",".join(
                f"c{i}:bigint" for i in range(16)) + ">")
    narrow = ("Location: InMemoryFileIndex [file:/data/lineitem.parquet]\n"
              "ReadSchema: struct<l_quantity:double,l_discount:double>")
    small_full = ("Location: InMemoryFileIndex [file:/data/region.parquet]\n"
                  "ReadSchema: struct<a:int,b:int,c:int>")
    assert _kinds("x", wide) == {"SCAN_WIDTH"}
    assert _kinds("x", narrow) == set()
    assert _kinds("x", small_full) == set()  # <=5-col tables exempt


def test_hof_unbound_flags_per_element_tokenization():
    # pre-fix setsim_join gram builder: the lambda body re-normalizes the
    # document text (a non-lambda attribute) once per gram
    unbound = (
        "Generate explode(transform(sequence(1, (size(split(lower(trim("
        "regexp_replace(text#1, \\s+,  , 1), None)),  , -1), false) - 2), "
        "None, Some(UTC)), lambdafunction(concat_ws( , slice(split(lower("
        "trim(regexp_replace(text#1, \\s+,  , 1), None)),  , -1), "
        "lambda x_1#2, 3)), lambda x_1#2, false))), false, [col#3]")
    # bind_once shape: the tokens are computed once, outside every lambda
    bound = (
        "Generate explode(element_at(transform(array(split(lower(trim("
        "regexp_replace(text#1, \\s+,  , 1), None)),  , -1)), "
        "lambdafunction(transform(sequence(1, greatest((size(lambda x_2#4, "
        "false) - 2), 1), None, Some(UTC)), lambdafunction(concat_ws( , "
        "slice(lambda x_2#4, lambda x_3#5, 3)), lambda x_3#5, false)), "
        "lambda x_2#4, false)), 1, None, true)), false, [col#6]")
    # lowercasing the lambda's own element is per-element work by design
    own = "filter(toks#7, lambdafunction((lower(lambda t#8) = a), lambda t#8, false))"
    # the plan printer truncates long scan filters mid-lambda: an
    # unclosed body is not read past its line
    truncated = (
        "FileScan parquet [text#2] DataFilters: [(size(filter(split(lower("
        "text#2), \\s+, -1), lambdafunction(NOT (lambda x_1#5 = ), "
        "lambda x_1#...\nProject [split(lower(text#2), \\s+, -1) AS t#6]")
    assert _kinds("x", unbound) == {"HOF_UNBOUND"}
    assert _kinds("x", truncated) == set()
    assert _kinds("x", bound) == set()
    assert _kinds("x", own) == set()
