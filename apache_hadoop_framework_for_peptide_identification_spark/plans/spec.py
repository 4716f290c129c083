"""Declarative pipeline spec + CLI — the reference's job model.

Mirrors the reference's JSON config (properties.json:1-18, documented
in properties.json.template:1-24) and CLI contract
(``mrexecutor <algorithm> <properties_json_path> [data_header]``,
Driver.java:42-46):

- global keys: ``stage_dir`` (env/cache root analog), per-algorithm
  ``name``, ``binary_dir``, ``executables[].command``, ``in_dir``,
  ``out_dir`` (Driver.java:66-121);
- algorithm lookup is case-insensitive by name (Driver.java:70-76),
  a miss aborts with a clear error (Driver.java:79-85);
- the optional header argument mirrors DATA_HEADER sourcing
  (Driver.java:91-101) — here it declares the staged file's column
  order instead of being prompted interactively.

A ``csv`` in_dir is read with its header line. The driver reads the
column names from the first non-blank line of the first non-hidden,
non-empty file in path order (Hadoop ``FileSystem``, so any scheme
works) and hands Spark an all-string schema with ``enforceSchema=False``;
the scan tasks then check every file's header against it, so a file
whose header disagrees fails the job instead of being read under
another file's column names, and no extra Spark job is spent reading
the header. Names that differ only in letter case pass the check and
take the first file's spelling. Spark's own header inference (one
extra job, no cross-file check) is kept for what the driver-side read
does not model: a glob or unlistable in_dir, a sub-directory in it, a
header with a quote character, an empty name or a name repeated
regardless of case, and a first file with no non-blank line.

Differences by design: commands are shlex-split into argv (the
reference's Runtime.exec whitespace split breaks on spaced paths,
ExecutorMapper.java:243), and output lands through the engine's
commit-safe sink instead of side-channel HDFS copies (no part-file
cleanup pass needed — Driver.java:153-167 is obsolete here).
"""

from __future__ import annotations

import json
import shlex
import sys
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..operators.pipe import ChainSpec, run_chain


@dataclass(frozen=True)
class Algorithm:
    name: str
    binary_dir: str
    commands: list[str]
    in_dir: str
    out_dir: str
    output_schema: str
    input_format: str = "csv"  # csv | text | parquet
    sep: str = "\t"
    env: dict[str, str] = field(default_factory=dict)


class AlgorithmNotFound(KeyError):
    pass


def load_spec(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def select_algorithm(spec: dict, name: str) -> Algorithm:
    """Case-insensitive lookup, abort on miss (Driver.java:70-85)."""
    for algo in spec.get("algorithms", []):
        if algo["name"].lower() == name.lower():
            return Algorithm(
                name=algo["name"],
                binary_dir=algo.get("binary_dir", ""),
                commands=[e["command"] for e in algo.get("executables", [])],
                in_dir=algo["in_dir"],
                out_dir=algo["out_dir"],
                output_schema=algo["output_schema"],
                input_format=algo.get("input_format", "csv"),
                sep=algo.get("sep", "\t"),
                env=algo.get("env", {}),
            )
    raise AlgorithmNotFound(
        f"algorithm {name!r} not found in spec; available: "
        f"{[a['name'] for a in spec.get('algorithms', [])]}"
    )


def _chain_spec(algo: Algorithm, global_env: dict[str, str]) -> ChainSpec:
    stages = []
    for command in algo.commands:
        argv = shlex.split(command)
        if algo.binary_dir and not argv[0].startswith(("/", "%")):
            # binary_dir prefixing, as ExecutorMapper.java:194 does.
            argv[0] = f"{algo.binary_dir.rstrip('/')}/{argv[0]}"
        stages.append(argv)
    return ChainSpec(stages=stages, env={**global_env, **algo.env}, sep=algo.sep)


_GLOB_CHARS = frozenset("{}[]*?\\")  # SparkHadoopUtil.isGlobPath
_JAVA_TRIM = "".join(map(chr, range(33)))  # String.trim; Spark skips lines blank after it


def _first_line(jvm, fs, path) -> str | None:
    """First non-blank line of one file, decompressed as Spark reads it."""
    stream = fs.open(path)
    try:
        codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(fs.getConf())
        codec = codecs.getCodec(path)
        if codec is not None:
            stream = codec.createInputStream(stream)  # closing it closes the file
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream, "UTF-8"))
        line = reader.readLine()
        if line is not None:
            line = line.removeprefix("\ufeff")  # Hadoop's line reader drops the BOM
        while line is not None and not line.strip(_JAVA_TRIM):
            line = reader.readLine()
        return line
    finally:
        stream.close()


def csv_header_schema(spark: SparkSession, in_dir: str, sep: str) -> StructType | None:
    """All-string schema named by ``in_dir``'s header line, or None when
    Spark's header inference must decide (see the module docstring)."""
    if _GLOB_CHARS & set(in_dir):
        return None
    try:
        path = spark._jvm.org.apache.hadoop.fs.Path(in_dir)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        root = fs.getFileStatus(path)
        statuses = [root] if root.isFile() else list(fs.listStatus(path))
        files = {}
        for st in statuses:
            name = st.getPath().getName()
            if st is not root and (name.startswith((".", "_")) or name.endswith("._COPYING_")):
                continue  # hidden from Spark's file index
            if not st.isFile():
                return None  # partition discovery / nested layout
            if st.getLen() > 0:
                files[st.getPath().toString()] = st.getPath()
        line = _first_line(spark._jvm, fs, files[min(files)]) if files else None
    except (Py4JError, AttributeError):  # unlistable or unreadable, or no JVM: Spark reports it
        return None
    if line is None or '"' in line:
        return None
    names = line.split(sep)
    if "" in names or len({n.lower() for n in names}) < len(names):
        return None
    return StructType([StructField(n, StringType()) for n in names])


def read_input(spark: SparkSession, algo: Algorithm) -> DataFrame:
    """``in_dir`` as a DataFrame in the algorithm's ``input_format``."""
    if algo.input_format == "parquet":
        return spark.read.parquet(algo.in_dir)
    if algo.input_format == "text":
        return spark.read.text(algo.in_dir)
    schema = csv_header_schema(spark, algo.in_dir, algo.sep)
    if schema is None:
        return spark.read.csv(algo.in_dir, sep=algo.sep, header=True, inferSchema=False)
    return spark.read.csv(
        algo.in_dir, sep=algo.sep, header=True, schema=schema, enforceSchema=False
    )


def run_algorithm(
    spark: SparkSession,
    spec: dict,
    name: str,
    header: list[str] | None = None,
    write: bool = True,
) -> DataFrame:
    """Load in_dir → run the algorithm's chain per partition → out_dir."""
    algo = select_algorithm(spec, name)
    df = read_input(spark, algo)
    if header:
        df = df.select(*header)
    out = run_chain(df, _chain_spec(algo, spec.get("env", {})), algo.output_schema)
    if write:
        out.write.mode("overwrite").parquet(algo.out_dir)
    return out


def main(argv: list[str] | None = None) -> int:
    """CLI: ``engine-pipe <algorithm> <spec.json> [header_csv]``
    (usage contract of Driver.java:42-46)."""
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) < 2:
        print("usage: engine-pipe <algorithm> <spec_json_path> [header_csv]", file=sys.stderr)
        return 2
    from ..session import get_spark

    try:
        spec = load_spec(argv[1])
    except (OSError, ValueError) as e:
        # unreadable path or malformed JSON: a clean diagnostic, not a
        # traceback (json.JSONDecodeError is a ValueError)
        print(f"engine-pipe: cannot load spec {argv[1]!r}: {e}", file=sys.stderr)
        return 2
    header = argv[2].split(",") if len(argv) > 2 else None
    spark = get_spark(app_name=f"epipe-{argv[0]}")
    try:
        run_algorithm(spark, spec, argv[0], header)
    except AlgorithmNotFound as e:
        print(str(e), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
