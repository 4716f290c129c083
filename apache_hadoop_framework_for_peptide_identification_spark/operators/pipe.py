"""E-PIPE: external-process pipeline operators — the reference engine's
actual capability surface (SURVEY.md §2A R1-R10) rebuilt Spark-first.

Reference parity map (citations into /root/reference):
- stage_partition == header injection + partition spool
  (ExecutorMapper.java:142-145, 153-156): each partition is
  materialized as ONE headered local file so an external file-oriented
  tool sees a self-contained input; process startup is amortized to
  once per partition, not per record (the reference's core insight —
  MATLAB MCR boot is expensive; Driver.java:128 map-only design). The
  spool (R3) joins each Arrow batch into lines with Arrow kernels; the
  plan casts every column to text first, so no row passes through Python.
- run_chain == command templating + sequential multi-stage fork
  (ExecutorMapper.java:174-208): %INPUT_FILE%/%OUTPUT_FILE%/
  %TMP_FILE_N% placeholders, temp files memoized per N so stages share
  intermediates (ExecutorMapper.java:197-203), env injection
  (MCR_CACHE_ROOT, ExecutorMapper.java:174-177), non-zero exit fails
  the task => Spark retries the attempt (ExecutorMapper.java:267-268).
- collect_outputs (R7) == the side-file sink (ExecutorMapper.java:210-226),
  except %OUTPUT_FILE% is parsed by Arrow's CSV reader into the declared
  schema and returned THROUGH the engine (mapInArrow yield) so Spark's
  task-commit protocol makes retries/speculation safe — the reference's
  copy-to-HDFS races on attempt collisions (§2A notes).

Conscious fixes over the reference (not ported):
- argv lists via subprocess, never naive whitespace split
  (ExecutorMapper.java:243 breaks on paths with spaces);
- concurrent stdout/stderr draining via subprocess.run capture
  (sequential draining at ExecutorMapper.java:245-263 can deadlock);
- literal placeholder substitution, not regex replaceAll
  (ExecutorMapper.java:191-192 corrupts on '$' or '\\' in values).

Scale: zero shuffle — a narrow mapInArrow per partition, exactly the
reference's map-only topology (Driver.java:128 setNumReduceTasks(0)).
"""

from __future__ import annotations

import itertools
import os
import shlex
import subprocess
import tempfile
from collections.abc import Iterator, Sequence
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyarrow import csv as pacsv

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

INPUT_FILE = "%INPUT_FILE%"
OUTPUT_FILE = "%OUTPUT_FILE%"
TMP_FILE = "%TMP_FILE_{n}%"


@dataclass(frozen=True)
class ChainSpec:
    """An ordered external-command chain over staged partition files.

    stages: argv lists; tokens may contain %INPUT_FILE%, %OUTPUT_FILE%
            and %TMP_FILE_N% placeholders (N memoized per partition so
            stages share intermediates, mirroring argFileMap at
            ExecutorMapper.java:197-203).
    env:    extra environment for every stage (the MCR_CACHE_ROOT
            analog, ExecutorMapper.java:174-177).
    header: prepend a header line to the staged input
            (ADD_DATA_HEADER / DATA_HEADER, Driver.java:91-108).
    sep:    field separator for staging and output parsing.
    """

    stages: Sequence[Sequence[str]]
    env: dict[str, str] = field(default_factory=dict)
    header: bool = True
    sep: str = "\t"


def _expand(token: str, mapping: dict[str, str]) -> str:
    for k, v in mapping.items():
        token = token.replace(k, v)  # literal, not regex (see module doc)
    return token


def _tmp_path(memo: dict[str, str], placeholder: str, workdir: str) -> None:
    if placeholder not in memo:
        fd, path = tempfile.mkstemp(dir=workdir, prefix=placeholder.strip("%") + "_")
        os.close(fd)
        memo[placeholder] = path


def _any_case(*words: str) -> list[str]:
    """Every letter-case spelling of ``words``; Arrow matches booleans exactly."""
    return ["".join(p) for w in words for p in itertools.product(*({c.lower(), c.upper()} for c in w))]


def _write_lines(f, batch: pa.RecordBatch, sep: str) -> None:
    """Write one ``sep``-joined line per row of an all-string batch, null as ""."""
    typ = batch.schema.field(0).type  # string or large_string, as Spark ships it
    fields = pc.binary_join_element_wise(
        *batch.columns, pa.scalar(sep, typ), null_handling="replace", null_replacement=""
    )
    lines = pc.binary_join_element_wise(fields, pa.scalar("", typ), pa.scalar("\n", typ))
    _, offsets, data = lines.buffers()
    offsets = np.frombuffer(offsets, np.int64 if pa.types.is_large_string(typ) else np.int32)
    start, end = offsets[lines.offset], offsets[lines.offset + len(lines)]
    f.write(memoryview(data)[start:end])


def run_chain(
    df: DataFrame,
    spec: ChainSpec,
    output_schema: str,
    *,
    input_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Stage each partition to a headered local file, run the command
    chain over it, parse %OUTPUT_FILE% back into rows of
    ``output_schema``. See module docstring for reference parity."""
    cols = list(input_cols or df.columns)
    sep = spec.sep
    stages = [list(s) for s in spec.stages]
    extra_env = dict(spec.env)
    add_header = spec.header
    schema = StructType.fromDDL(output_schema)
    large = df.sparkSession.conf.get("spark.sql.execution.arrow.useLargeVarTypes") == "true"
    arrow_schema = to_arrow_schema(schema, prefers_large_types=large)
    # Output text is parsed into the DECLARED types: an empty field is
    # null, except in string columns where it stays "".
    read_opts = pacsv.ReadOptions(column_names=arrow_schema.names)
    parse_opts = pacsv.ParseOptions(delimiter=sep)
    convert_opts = pacsv.ConvertOptions(
        column_types=arrow_schema,
        null_values=[""],
        strings_can_be_null=False,
        true_values=_any_case("true", "1"),
        false_values=_any_case("false", "0"),
    )
    # Staged text is Spark's CAST AS STRING (a no-op on string columns).
    staged = df.select(
        *(F.col("`" + c.replace("`", "``") + "`").cast("string").alias(c) for c in cols)
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import re

        with tempfile.TemporaryDirectory(prefix="epipe_") as workdir:
            in_path = os.path.join(workdir, "in.txt")
            out_path = os.path.join(workdir, "out.txt")
            # R2+R3: header then verbatim spool of the whole partition.
            with open(in_path, "wb") as f:
                if add_header:
                    f.write((sep.join(cols) + "\n").encode("utf-8"))
                for batch in batches:
                    _write_lines(f, batch, sep)
            mapping = {INPUT_FILE: in_path, OUTPUT_FILE: out_path}
            memo: dict[str, str] = {}
            env = dict(os.environ)
            env.update(extra_env)
            for argv in stages:
                for tok in argv:
                    for ph in re.findall(r"%TMP_FILE_\d+%", tok):
                        _tmp_path(memo, ph, workdir)
                full = {**mapping, **memo}
                expanded = [_expand(tok, full) for tok in argv]
                # R5: fork; non-zero exit fails the task attempt -> Spark
                # retries it, same as ExecutorMapper.java:267-268.
                proc = subprocess.run(expanded, env=env, capture_output=True, text=True)
                if proc.returncode != 0:
                    raise RuntimeError(
                        f"E-PIPE stage failed ({proc.returncode}): {expanded!r}\n"
                        f"stderr: {proc.stderr[-2000:]}"
                    )
            # R7: collect outputs as engine rows (commit-safe).
            if os.path.exists(out_path) and os.path.getsize(out_path) > 0:
                try:
                    out = pacsv.read_csv(out_path, read_opts, parse_opts, convert_opts)
                except pa.ArrowInvalid as e:
                    raise RuntimeError(
                        f"E-PIPE output {OUTPUT_FILE} ({out_path}) does not parse as "
                        f"{output_schema!r}: {e}"
                    ) from e
                yield from out.to_batches()

    return staged.mapInArrow(fn, schema)


def pipe_lines(df: DataFrame, command: Sequence[str] | str, env: dict[str, str] | None = None) -> DataFrame:
    """Simpler stdin/stdout line-streaming variant (R5 for filter-style
    tools): each partition's single string column is piped through
    ``command``; stdout lines come back as rows.

    The only RDD usage in the engine — RDD.pipe is genuinely the right
    primitive for line-streaming subprocesses.
    """
    if len(df.columns) != 1:
        raise ValueError("pipe_lines expects a single string column")
    spark = df.sparkSession
    rdd = df.rdd.map(lambda r: "" if r[0] is None else str(r[0]))
    # RDD.pipe re-tokenizes its command string with shlex.split, so a
    # list argv must be shlex-QUOTED per token — a bare " ".join would
    # split tokens containing spaces/quotes, the exact whitespace-split
    # defect this module documents against ExecutorMapper.java:243.
    cmd = command if isinstance(command, str) else shlex.join(command)
    piped = rdd.pipe(cmd, env=env or {})
    return spark.createDataFrame(piped.map(lambda line: (line,)), "value string")
