"""E-PIPE query: a real external-command chain over a staged partition
file — the reference's whole computation model (SURVEY.md §2A) with a
POSIX awk stand-in for the MATLAB CRANKER binaries. Oracle-verified:
the chain's per-doc token count must equal the SQL token count, which
also proves header handling and partition invariance at sf0.01."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.pipe import ChainSpec, run_chain
from . import materialized_sort, query
from ._scratch import _scratch_dir

# Two-stage chain sharing %TMP_FILE_1% (the argFileMap memoization
# semantics of ExecutorMapper.java:197-203): stage 1 reads the staged
# headered TSV and computes tokens per doc; stage 2 re-reads the shared
# temp file and emits the final output file.
TOKEN_CHAIN = ChainSpec(
    stages=[
        [
            "awk",
            "-F",
            "\t",
            "-v",
            "out=%TMP_FILE_1%",
            'NR > 1 { n = split($2, a, " "); print $1 "\t" n > out }',
            "%INPUT_FILE%",
        ],
        [
            "awk",
            "-F",
            "\t",
            "-v",
            "out=%OUTPUT_FILE%",
            '{ print $1 "\t" $2 > out }',
            "%TMP_FILE_1%",
        ],
    ],
    env={"PIPE_CACHE_ROOT": "/tmp/epipe-cache"},  # MCR_CACHE_ROOT analog
    header=True,
)


@query(
    "q50_pipe_tokens",
    oracle="""
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM documents ORDER BY doc_id
""",
)
def q50_pipe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage each documents partition as a headered TSV, run the 2-stage
    awk chain, collect outputs as typed rows. Zero shuffle (map-only,
    like Driver.java:128) until the final presentation sort."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = run_chain(d, TOKEN_CHAIN, "doc_id long, n_tokens long")
    return materialized_sort(out, "doc_id")


def _assert_tsv_stageable(df, text_col: str = "text") -> None:
    """q119-style loud fixture-contract guard (r7 ADVICE item 4): the
    awk TSV chains in q148/q149 assume text is non-null, non-empty and
    free of tab/newline — a NULL/empty text would emit (0, 0) where the
    oracle yields NULL, and an embedded tab/newline would mis-parse the
    TSV. All true in today's fixtures; if a regenerated fixture ever
    broke it, the hash mismatch would not point at the real cause —
    fail loudly here instead. One bounded scan (limit 1 short-circuit)."""
    from pyspark.sql import functions as _F

    bad = (
        df.filter(
            _F.col(text_col).isNull()
            | (_F.length(text_col) == 0)
            | _F.col(text_col).contains("\t")
            | _F.col(text_col).contains("\n")
        )
        .limit(1)
        .count()
    )
    if bad:
        raise AssertionError(
            "E-PIPE fixture contract broken: documents.text contains a "
            "NULL/empty value or an embedded tab/newline — the TSV staging "
            "in q148/q149 cannot represent it; regenerate the fixture or "
            "switch the chain to a quoted/escaped format"
        )


@query(
    "q148_pipeline_spec_run",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents ORDER BY doc_id
""",
)
def q148_pipeline_spec_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job composition through the declarative pipeline spec
    (plans/spec.py run_algorithm — the reference's whole job model,
    previously pytest-only): a properties.json-shaped dict declares a
    3-stage read→solve→write algorithm (the CRANKER chain shape,
    properties.json:10-12) whose command STRINGS go through shlex argv
    splitting, binary_dir prefixing (ExecutorMapper.java:194), global
    env merge, %TMP_FILE_N% memoization across stages, and the
    case-insensitive algorithm lookup (Driver.java:70-76). The run
    lands in the commit-safe parquet sink and the query returns the
    READ-BACK sink contents — so a hash match verifies the full
    spec → select → stage → chain → sink → scan loop, not just the
    in-flight rows. Zero shuffle until the presentation sort."""

    from ..plans.spec import run_algorithm

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _assert_tsv_stageable(d)
    in_dir = _scratch_dir("q148_in_")
    out_dir = _scratch_dir("q148_out_")
    d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(in_dir)

    spec = {
        "env": {"PIPE_CACHE_ROOT": "/tmp/epipe-cache"},  # MCR_CACHE_ROOT analog
        "algorithms": [
            {
                "name": "WordStats",
                "binary_dir": "/usr/bin",  # exercises ExecutorMapper.java:194 prefixing
                "executables": [
                    # read: per-doc token count -> shared TMP_FILE_1
                    {
                        "command": "awk -F '\\t' -v out=%TMP_FILE_1% "
                        "'NR > 1 { n = split($2, a, \" \"); print $1 \"\\t\" n > out }' "
                        "%INPUT_FILE%"
                    },
                    # solve: per-doc char count -> shared TMP_FILE_2
                    {
                        "command": "awk -F '\\t' -v out=%TMP_FILE_2% "
                        "'NR > 1 { print $1 \"\\t\" length($2) > out }' %INPUT_FILE%"
                    },
                    # write: merge the two intermediates -> OUTPUT_FILE
                    {
                        "command": "awk -F '\\t' -v out=%OUTPUT_FILE% "
                        "'NR == FNR { t[$1] = $2; next } "
                        "{ print $1 \"\\t\" t[$1] \"\\t\" $2 > out }' "
                        "%TMP_FILE_1% %TMP_FILE_2%"
                    },
                ],
                "in_dir": in_dir,
                "out_dir": out_dir,
                "output_schema": "doc_id long, n_tokens long, n_chars long",
                "input_format": "text",
            }
        ],
    }
    # Lookup is deliberately lower-cased: Driver.java:70-76 parity.
    run_algorithm(spark, spec, "wordstats", write=True)
    return spark.read.parquet(out_dir).orderBy("doc_id")


# The same read→solve→write chain as argv lists, for direct run_chain
# use at corpus scale (q149). TMP_FILE_1/TMP_FILE_2 are memoized per
# partition so the merge stage sees both intermediates.
CRANKER3_CHAIN = ChainSpec(
    stages=[
        [
            "awk",
            "-F",
            "\t",
            "-v",
            "out=%TMP_FILE_1%",
            'NR > 1 { n = split($2, a, " "); print $1 "\t" n > out }',
            "%INPUT_FILE%",
        ],
        [
            "awk",
            "-F",
            "\t",
            "-v",
            "out=%TMP_FILE_2%",
            'NR > 1 { print $1 "\t" length($2) > out }',
            "%INPUT_FILE%",
        ],
        [
            "awk",
            "-F",
            "\t",
            "-v",
            "out=%OUTPUT_FILE%",
            'NR == FNR { t[$1] = $2; next } { print $1 "\t" t[$1] "\t" $2 > out }',
            "%TMP_FILE_1%",
            "%TMP_FILE_2%",
        ],
    ],
    env={"PIPE_CACHE_ROOT": "/tmp/epipe-cache"},
    header=True,
)


@query(
    "q149_pipe_corpus_scale",
    oracle="""
SELECT d.doc_id + r.r * 1000000 AS doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(length(d.text) AS BIGINT) AS n_chars
FROM documents d CROSS JOIN (SELECT unnest([0, 1, 2]) AS r) r
ORDER BY doc_id
""",
)
def q149_pipe_corpus_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-PIPE at corpus scale (round-6 VERDICT item 7: no bench row
    exercised run_chain beyond 5k docs): the full documents table
    replicated 3× with disjoint doc_ids (15,000 docs at sf0.1) through
    the 3-stage read→solve→write chain. The replication is a narrow
    explode — no shuffle — and the corpus is repartitioned to the full
    core count first, because the fixture is a single parquet file
    whose one split would otherwise serialize the chain; at 100 TB the
    scan arrives already split and the repartition disappears. One
    process fork per stage per PARTITION (the reference's amortization
    insight, Driver.java:128), so cost scales with partition count,
    not row count."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _assert_tsv_stageable(d)
    amp = d.select(
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("r"), "doc_id", "text"
    ).select(
        (F.col("doc_id") + F.col("r") * F.lit(1000000)).alias("doc_id"), "text"
    )
    amp = amp.repartition(spark.sparkContext.defaultParallelism)
    out = run_chain(amp, CRANKER3_CHAIN, "doc_id long, n_tokens long, n_chars long")
    return materialized_sort(out, "doc_id")


@query(
    "q77_pipe_lines",
    oracle="""
SELECT text AS value FROM documents
WHERE text LIKE '%the%' ORDER BY value
""",
)
def q77_pipe_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipe_lines (§2B E-PIPE table): the simpler stdin/stdout
    line-streaming variant of the external-process operator — document
    lines piped through a grep filter, stdout lines back as rows. One
    external process per partition, zero shuffle until the
    presentation sort."""
    from ..operators.pipe import pipe_lines

    d = load_table(spark, sf_dir, "documents").select("text")
    return pipe_lines(d, ["grep", "the"]).orderBy("value")


@query(
    "q159_sql_transform",
    oracle="""
SELECT doc_id, upper(text) AS text_upper FROM documents ORDER BY doc_id
""",
)
def q159_sql_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT TRANSFORM ... USING — the external-process operator
    reachable from PURE SQL (Hive-streaming semantics, supported by
    Spark without Hive since 3.0): rows stream to the child process as
    tab-separated lines on stdin, its stdout lines come back as rows
    of the declared AS schema. This is the SQL-surface twin of the
    E-PIPE group — same per-partition fork amortization as the
    reference's model (Driver.java:128), but inline in a query instead
    of a staged chain; `tr` uppercases the ASCII corpus so DuckDB's
    upper() reproduces it exactly. TRANSFORM emits strings (default
    SERDE) — the typed contract is restored by explicit casts, the
    same declared-schema discipline as run_chain. On a cluster the
    script must exist on every executor (ship via --files /
    addFile) — here a coreutil makes the query self-contained."""
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).createOrReplaceTempView("docs_transform_v")
    return spark.sql(
        """
        SELECT CAST(id AS BIGINT) AS doc_id, text_upper
        FROM (
          SELECT TRANSFORM(doc_id, text)
            USING 'tr "a-z" "A-Z"'
            AS (id string, text_upper string)
          FROM docs_transform_v
        )
        ORDER BY doc_id
        """
    )
