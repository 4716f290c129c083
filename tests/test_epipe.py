"""E-PIPE tests (SURVEY.md §5.2 item 3): a stand-in CRANKER chain —
deterministic POSIX scripts in read → write shape — verifying header
presence, %TMP_FILE_N% memoization (ExecutorMapper.java:197-203
semantics), env injection (MCR_CACHE_ROOT analog,
ExecutorMapper.java:174-177), non-zero-exit task failure
(ExecutorMapper.java:267-268), the staged bytes, the declared-schema
parse-back contract, and partition-count invariance of the merged
result.
"""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys

import pytest

from apache_hadoop_framework_for_peptide_identification_spark.operators.pipe import (
    ChainSpec,
    run_chain,
)
from apache_hadoop_framework_for_peptide_identification_spark.plans import spec as spec_mod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _script(path, body):
    with open(path, "w") as f:
        f.write("#!/bin/sh\n" + body)
    os.chmod(path, os.stat(path).st_mode | stat.S_IXUSR)
    return str(path)


@pytest.fixture(scope="module")
def cranker_bin(tmp_path_factory):
    """Stand-in CRANKER: read (header check + uppercase) → solve
    (append marker) → write (env check + copy), sharing %TMP_FILE_1%
    and %TMP_FILE_2% like run_cranker_*.sh (properties.json:10-12)."""
    d = tmp_path_factory.mktemp("bin")
    _script(
        d / "read.sh",
        # Fails unless line 1 is the header — proves header injection.
        'head -n1 "$1" | grep -q "^doc_id" || exit 4\n'
        "awk -F'\\t' 'BEGIN{OFS=\"\\t\"} NR==1{next} {print $1, toupper($2)}' \"$1\" > \"$2\"\n",
    )
    _script(d / "solve.sh", 'sed "s/$/\\tsolved/" "$1" > "$2"\n')
    _script(
        d / "write.sh",
        '[ -n "$MCR_CACHE_ROOT" ] || { echo "env missing" >&2; exit 3; }\n'
        'cp "$2" "$3"\n',
    )
    return str(d)


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [(i, f"text {i}") for i in range(20)]
    return spark.createDataFrame(rows, "doc_id int, body string")


def _chain(cranker_bin):
    return ChainSpec(
        stages=[
            [f"{cranker_bin}/read.sh", "%INPUT_FILE%", "%TMP_FILE_1%"],
            [f"{cranker_bin}/solve.sh", "%TMP_FILE_1%", "%TMP_FILE_2%"],
            # write.sh sees BOTH tmp files — memoization means
            # %TMP_FILE_2% here is the same path solve.sh wrote.
            [f"{cranker_bin}/write.sh", "%TMP_FILE_1%", "%TMP_FILE_2%", "%OUTPUT_FILE%"],
        ],
        env={"MCR_CACHE_ROOT": "/tmp/mcr_cache_test"},
    )


OUT_SCHEMA = "doc_id bigint, body string, marker string"


def test_chain_end_to_end(spark, docs_df, cranker_bin):
    out = run_chain(docs_df, _chain(cranker_bin), OUT_SCHEMA).toPandas()
    assert len(out) == 20
    assert set(out.marker) == {"solved"}
    assert out.set_index("doc_id").loc[7, "body"] == "TEXT 7"
    # Declared-schema coercion: external tools emit text; the contract
    # decides types.
    assert str(out.doc_id.dtype) == "int64"


def test_partition_invariance(spark, docs_df, cranker_bin):
    """Merged result is independent of partitioning (the reference's
    per-split design, Driver.java:128,135-136)."""
    a = run_chain(docs_df.repartition(1), _chain(cranker_bin), OUT_SCHEMA).toPandas()
    b = run_chain(docs_df.repartition(7), _chain(cranker_bin), OUT_SCHEMA).toPandas()
    key = ["doc_id", "body", "marker"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True)
    )


def test_nonzero_exit_fails_task(spark, docs_df):
    chain = ChainSpec(stages=[["false"]])
    with pytest.raises(Exception, match="E-PIPE stage failed"):
        run_chain(docs_df, chain, "doc_id bigint").collect()


def test_missing_env_fails(spark, docs_df, cranker_bin):
    chain = ChainSpec(
        stages=[[f"{cranker_bin}/write.sh", "%TMP_FILE_1%", "%TMP_FILE_1%", "%OUTPUT_FILE%"]],
        env={},  # no MCR_CACHE_ROOT → write.sh exits 3
    )
    with pytest.raises(Exception, match="E-PIPE stage failed"):
        run_chain(docs_df, chain, "doc_id bigint").collect()


def test_pipe_lines_spaced_argv(spark):
    """A list argv token containing spaces must survive pipe_lines
    (ADVICE round 1: RDD.pipe re-tokenizes with shlex.split, so tokens
    need shlex quoting — the ExecutorMapper.java:243 defect class)."""
    from apache_hadoop_framework_for_peptide_identification_spark.operators.pipe import pipe_lines

    df = spark.createDataFrame(
        [("foo bar",), ("foo baz",), ("nope",)], "value string"
    )
    out = pipe_lines(df, ["grep", "foo bar"]).collect()
    assert sorted(r["value"] for r in out) == ["foo bar"]


@pytest.mark.parametrize("large_var_types", ["false", "true"])
def test_staged_bytes(spark, tmp_path, large_var_types):
    """%INPUT_FILE% holds the header, then each row's values joined with
    ``sep``, one line per row ending in a newline: a null is an empty
    field, quotes and non-ASCII text pass through verbatim. Arrow ships
    strings with 32- or 64-bit offsets; both stage the same bytes."""
    staged = tmp_path / "staged.txt"
    df = spark.createDataFrame(
        [(1, 'say "hi"'), (2, None), (3, "naïve café")], "id bigint, body string"
    ).coalesce(1)
    chain = ChainSpec(stages=[["cp", "%INPUT_FILE%", str(staged)]], sep="|")
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    spark.conf.set(key, large_var_types)
    try:
        assert run_chain(df, chain, "id bigint").collect() == []
    finally:
        spark.conf.unset(key)
    assert staged.read_bytes() == 'id|body\n1|say "hi"\n2|\n3|naïve café\n'.encode()


def test_parquet_nullable_bigint_stages_as_integer_text(spark, tmp_path):
    """A nullable bigint stages as ``5`` and an empty field, never as
    the float text ``5.0`` and ``nan``."""
    in_dir, staged = str(tmp_path / "in"), tmp_path / "staged.txt"
    spark.createDataFrame([(1, 5), (2, None)], "id bigint, n bigint").coalesce(1).write.parquet(
        in_dir
    )
    spec = {
        "algorithms": [
            {
                "name": "CP",
                "executables": [{"command": f"cp %INPUT_FILE% {staged}"}],
                "in_dir": in_dir,
                "out_dir": str(tmp_path / "out"),
                "output_schema": "id bigint",
                "input_format": "parquet",
            }
        ],
    }
    spec_mod.run_algorithm(spark, spec, "CP", write=False).collect()
    assert staged.read_bytes() == b"id\tn\n1\t5\n2\t\n"


CONTRACT_SCHEMA = "n bigint, x double, ok boolean, amt decimal(10,2), s string"


def _emit(spark, tmp_path, text, schema=CONTRACT_SCHEMA):
    """run_chain over one partition whose chain writes ``text`` as its
    %OUTPUT_FILE%."""
    src = tmp_path / "emitted.txt"
    src.write_text(text)
    chain = ChainSpec(stages=[["cp", str(src), "%OUTPUT_FILE%"]])
    return run_chain(spark.range(1).coalesce(1), chain, schema)


def test_parse_back_declared_types(spark, tmp_path):
    """The declared schema, not the text, decides the types: an empty
    field is null in a typed column and "" in a string column; booleans
    read true/false/1/0 in any case."""
    from decimal import Decimal

    from pyspark.sql.types import StructType

    out = _emit(
        spark,
        tmp_path,
        "7\t2.5\ttrue\t12.34\tx\n"
        "\t\t\t\t\n"
        "-3\t-1e3\tFALSE\t0.5\tz y\n"
        "4\t0\t1\t1\t1\n"
        "5\t1\t0\t-2\ttRuE\n",
    )
    assert out.schema == StructType.fromDDL(CONTRACT_SCHEMA)
    assert [tuple(r) for r in out.collect()] == [
        (7, 2.5, True, Decimal("12.34"), "x"),
        (None, None, None, None, ""),
        (-3, -1000.0, False, Decimal("0.50"), "z y"),
        (4, 0.0, True, Decimal("1.00"), "1"),
        (5, 1.0, False, Decimal("-2.00"), "tRuE"),
    ]


def test_parse_fields_nested_types(spark, tmp_path):
    """A parameterized type keeps its inner comma: decimal(10,2) is one
    column, not two."""
    from decimal import Decimal

    out = _emit(spark, tmp_path, "1\t12.5\tx\n", "a bigint, b decimal(10,2), c string")
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("a", "bigint"),
        ("b", "decimal(10,2)"),
        ("c", "string"),
    ]
    assert [tuple(r) for r in out.collect()] == [(1, Decimal("12.50"), "x")]


def test_parse_fields_angle_bracket_types(spark, tmp_path):
    """Complex types must not split the DDL at their inner commas."""
    out = _emit(spark, tmp_path, "", "m map<string,int>, a array<struct<x:int,y:int>>, z string")
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("m", "map<string,int>"),
        ("a", "array<struct<x:int,y:int>>"),
        ("z", "string"),
    ]
    assert out.collect() == []


def test_coerce_to_schema_types(spark, tmp_path):
    """An empty bigint field is null; booleans and strings read back as
    declared."""
    out = _emit(spark, tmp_path, "1\ttrue\tx\n\tfalse\ty\n", "a bigint, b boolean, c string")
    assert [tuple(r) for r in out.collect()] == [(1, True, "x"), (None, False, "y")]


def test_parse_back_garbage_fails_task(spark, tmp_path):
    with pytest.raises(Exception, match="E-PIPE output"):
        _emit(spark, tmp_path, "abc\t1\ttrue\t1\tx\n").collect()


def test_parse_back_short_row_fails_naming_output_file(spark, tmp_path):
    """A row with fewer fields than declared fails the task; it is never
    padded with nulls."""
    with pytest.raises(Exception, match=r"%OUTPUT_FILE% \(\S*out\.txt\)"):
        _emit(spark, tmp_path, "1\t2.5\ttrue\t1\tx\n2\t3.5\n").collect()


# --- CLI surface (mirrors mrexecutor <algorithm> <spec> [header],
# Driver.java:42-46) ---


@pytest.fixture(scope="module")
def cli_spec(tmp_path_factory, cranker_bin):
    d = tmp_path_factory.mktemp("cli")
    in_dir = d / "in"
    in_dir.mkdir()
    with open(in_dir / "data.tsv", "w") as f:
        f.write("doc_id\tbody\n1\talpha\n2\tbeta\n")
    spec = {
        "env": {"MCR_CACHE_ROOT": "/tmp/mcr_cache_test"},
        "algorithms": [
            {
                "name": "CRANKER",
                "binary_dir": cranker_bin,
                "executables": [
                    {"command": "read.sh %INPUT_FILE% %TMP_FILE_1%"},
                    {"command": "solve.sh %TMP_FILE_1% %TMP_FILE_2%"},
                    {"command": "write.sh %TMP_FILE_1% %TMP_FILE_2% %OUTPUT_FILE%"},
                ],
                "in_dir": str(in_dir),
                "out_dir": str(d / "out"),
                "output_schema": OUT_SCHEMA,
                "input_format": "csv",
                "sep": "\t",
            }
        ],
    }
    path = d / "spec.json"
    with open(path, "w") as f:
        json.dump(spec, f)
    return str(path), str(d / "out")


def test_cli_run_algorithm(spark, cli_spec):
    """In-process CLI path (case-insensitive lookup, Driver.java:70-76)."""
    path, out_dir = cli_spec
    out = spec_mod.run_algorithm(spark, spec_mod.load_spec(path), "cranker").toPandas()
    assert sorted(out.body) == ["ALPHA", "BETA"]
    files = os.listdir(out_dir)
    assert any(f.endswith(".parquet") for f in files)


def test_cli_unknown_algorithm_exit_1(cli_spec):
    path, _ = cli_spec
    with pytest.raises(spec_mod.AlgorithmNotFound, match="available"):
        spec_mod.select_algorithm(spec_mod.load_spec(path), "nope")


def test_cli_usage_exit_2():
    proc = subprocess.run(
        [sys.executable, "-m", "apache_hadoop_framework_for_peptide_identification_spark.plans.spec"],
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 2
    assert "usage" in proc.stderr


def test_cli_header_argument_selects_columns(spark, cli_spec, cranker_bin, tmp_path):
    """The optional header argument (DATA_HEADER analog,
    Driver.java:91-101) declares the staged column order — staging
    must honor it."""
    spec = spec_mod.load_spec(cli_spec[0])
    out = spec_mod.run_algorithm(
        spark, spec, "CRANKER", header=["doc_id", "body"], write=False
    ).toPandas()
    assert sorted(out.body) == ["ALPHA", "BETA"]


def test_run_algorithm_parquet_input(spark, cranker_bin, tmp_path):
    """input_format=parquet: the chain stages typed parquet rows as a
    headered TSV transparently."""
    in_dir = str(tmp_path / "pq_in")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id bigint, body string"
    ).write.parquet(in_dir)
    spec = {
        "env": {"MCR_CACHE_ROOT": "/tmp/mcr_cache_test"},
        "algorithms": [
            {
                "name": "PQ",
                "binary_dir": cranker_bin,
                "executables": [
                    {"command": "read.sh %INPUT_FILE% %TMP_FILE_1%"},
                    {"command": "solve.sh %TMP_FILE_1% %TMP_FILE_2%"},
                    {"command": "write.sh %TMP_FILE_1% %TMP_FILE_2% %OUTPUT_FILE%"},
                ],
                "in_dir": in_dir,
                "out_dir": str(tmp_path / "pq_out"),
                "output_schema": OUT_SCHEMA,
                "input_format": "parquet",
            }
        ],
    }
    out = spec_mod.run_algorithm(spark, spec, "PQ", write=False).toPandas()
    assert sorted(out.body) == ["ALPHA", "BETA"]


def test_run_algorithm_text_input(spark, tmp_path):
    """input_format=text: raw lines flow through a line-oriented chain
    (one `value` column, the reference's TextInputFormat shape)."""
    in_dir = tmp_path / "txt_in"
    in_dir.mkdir()
    (in_dir / "lines.txt").write_text("aaa\nbb\nc\n")
    upper = _script(
        tmp_path / "upper.sh",
        "awk 'NR==1{next} {print toupper($0)}' \"$1\" > \"$2\"\n",
    )
    spec = {
        "algorithms": [
            {
                "name": "TXT",
                "binary_dir": "",
                "executables": [{"command": f"{upper} %INPUT_FILE% %OUTPUT_FILE%"}],
                "in_dir": str(in_dir),
                "out_dir": str(tmp_path / "txt_out"),
                "output_schema": "value string",
                "input_format": "text",
            }
        ],
    }
    out = spec_mod.run_algorithm(spark, spec, "txt", write=False).toPandas()
    assert sorted(out.value) == ["AAA", "BB", "C"]


# --- csv in_dir header: read on the driver, checked in every file ---


def _tsv_dir(root, files):
    root.mkdir()
    for name, text in files.items():
        (root / name).write_text(text, encoding="utf-8")
    return root


def _csv_algo(in_dir):
    return spec_mod.select_algorithm(
        {"algorithms": [{"name": "H", "in_dir": str(in_dir), "out_dir": "",
                         "output_schema": "x string", "input_format": "csv", "sep": "\t"}]},
        "H",
    )


def _jobs_while(spark, fn):
    """(fn's result, Spark job ids it ran), via the job-group status tracker."""
    sc = spark.sparkContext
    group = f"hdr-{os.getpid()}-{id(fn)}"
    sc.setJobGroup(group, "csv header")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


_DATA_ROWS = "".join(f"{i}\tw{i}\n" for i in range(5))
HEADER_CASES = {
    "one_file": {"a.tsv": "doc_id\tbody\n" + _DATA_ROWS},
    "sixteen_files": {  # laid out like a Spark-written dir: hidden files are not data
        **{f"part-{i:02d}.tsv": f"doc_id\tbody\n{i}\tw{i}\n{i + 100}\t\n" for i in range(16)},
        "_SUCCESS": "",
        ".part-00.tsv.crc": "not a header",
    },
    "blank_line_before_header": {"a.tsv": "\n  \ndoc_id\tbody\n" + _DATA_ROWS},
    "bom_and_crlf": {"a.tsv": "\ufeffdoc_id\tbody\r\n1\tp\r\n2\tq\r\n"},
    "header_only_file": {"a.tsv": "doc_id\tbody\n", "b.tsv": "doc_id\tbody\n" + _DATA_ROWS,
                         "c.tsv": "doc_id\tbody\n7\tz\n"},
}
FALLBACK_CASES = {
    "duplicate_names": ({"a.tsv": "id\tID\tbody\n1\t2\tx\n"}, ""),
    "empty_name": ({"a.tsv": "id\t\tbody\n1\t2\tx\n"}, ""),
    "glob": ({"a.tsv": "doc_id\tbody\n" + _DATA_ROWS, "b.tsv": "doc_id\tbody\n9\ty\n"}, "/*.tsv"),
}


def _assert_same_frame(got, want):
    assert got.columns == want.columns
    rows = [sorted(map(tuple, df.collect()), key=repr) for df in (got, want)]
    assert rows[0] == rows[1]


@pytest.mark.parametrize("case", sorted(HEADER_CASES))
def test_csv_header_read_on_driver_matches_spark_inference(spark, tmp_path, case):
    in_dir = _tsv_dir(tmp_path / "in", HEADER_CASES[case])
    algo = _csv_algo(in_dir)
    assert spec_mod.csv_header_schema(spark, algo.in_dir, algo.sep) is not None
    got, jobs = _jobs_while(spark, lambda: spec_mod.read_input(spark, algo))
    assert jobs == []  # building the reader runs no Spark job
    _assert_same_frame(got, spark.read.csv(str(in_dir), sep="\t", header=True))


@pytest.mark.parametrize("case", sorted(FALLBACK_CASES))
def test_csv_header_fallback_cases_use_spark_inference(spark, tmp_path, case):
    files, suffix = FALLBACK_CASES[case]
    in_dir = str(_tsv_dir(tmp_path / "in", files)) + suffix
    algo = _csv_algo(in_dir)
    assert spec_mod.csv_header_schema(spark, algo.in_dir, algo.sep) is None
    got, jobs = _jobs_while(spark, lambda: spec_mod.read_input(spark, algo))
    assert jobs  # Spark's header-inference job
    _assert_same_frame(got, spark.read.csv(in_dir, sep="\t", header=True))


def _identity_spec(tmp_path, in_dir, output_schema):
    body = _script(tmp_path / "body.sh", "awk 'NR>1' \"$1\" > \"$2\"\n")
    return {"algorithms": [{
        "name": "ID", "executables": [{"command": f"{body} %INPUT_FILE% %OUTPUT_FILE%"}],
        "in_dir": str(in_dir), "out_dir": str(tmp_path / "out"),
        "output_schema": output_schema, "input_format": "csv", "sep": "\t"}]}


def test_run_algorithm_rejects_disagreeing_csv_headers(spark, tmp_path):
    """Files whose headers name the columns in another order must not be
    read under the first file's names (that silently swaps x and y)."""
    in_dir = _tsv_dir(tmp_path / "in", {"a.tsv": "x\ty\n1\t2\n", "b.tsv": "y\tx\n3\t4\n"})
    spec = _identity_spec(tmp_path, in_dir, "x string, y string")
    with pytest.raises(Exception, match="CSV header does not conform to the schema"):
        spec_mod.run_algorithm(spark, spec, "ID", write=False).collect()


def test_run_algorithm_csv_header_case_from_first_file(spark, tmp_path):
    in_dir = _tsv_dir(tmp_path / "in", {"a.tsv": "Doc\tbody\n1\tp\n", "b.tsv": "doc\tBODY\n2\tq\n"})
    algo = _csv_algo(in_dir)
    assert spec_mod.read_input(spark, algo).columns == ["Doc", "body"]
    spec = _identity_spec(tmp_path, in_dir, "doc bigint, body string")
    out = spec_mod.run_algorithm(spark, spec, "ID", write=False).collect()
    assert sorted(map(tuple, out)) == [(1, "p"), (2, "q")]
