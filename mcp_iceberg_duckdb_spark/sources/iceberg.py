"""Iceberg DSv2 catalog wiring — the real lake path (SURVEY.md §1.1).

The reference talks to Iceberg through PyIceberg with a full
unfiltered scan per query (IcebergConnection.py:107-117). The Spark
replacement is the Iceberg Spark runtime catalog plugin: scans get
predicate pushdown, column pruning, and hidden-partition pruning from
Iceberg manifests, writes get ACID commits, and UPDATE/DELETE/MERGE
run natively (MoR or CoW per table property).

The runtime jar is not in this container, so everything is gated:
``iceberg_available(spark)`` probes the classpath, and
``configure_catalog`` returns the conf dict a deployment would pass
to the session builder.

Without the jar, Iceberg tables are still read and written through
the vendored filesystem format in sources/iceberg_fs.py (spec-built
Avro manifests, see sources/avro_io.py); tests/test_iceberg_live.py
skips cleanly when the runtime jar is absent.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ICEBERG_CATALOG_IMPL = "org.apache.iceberg.spark.SparkCatalog"
ICEBERG_EXTENSIONS = (
    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
)


def configure_catalog(
    name: str = "iceberg",
    catalog_type: str = "rest",
    uri: str | None = None,
    warehouse: str | None = None,
) -> dict[str, str]:
    """Session conf for an Iceberg catalog named ``name`` — mirrors
    the reference's env-driven REST catalog config (README.md:21-40)
    but through Spark's catalog plugin, giving pushdown instead of
    full scans."""
    conf = {
        "spark.sql.extensions": ICEBERG_EXTENSIONS,
        f"spark.sql.catalog.{name}": ICEBERG_CATALOG_IMPL,
        f"spark.sql.catalog.{name}.type": catalog_type,
    }
    if uri:
        conf[f"spark.sql.catalog.{name}.uri"] = uri
    if warehouse:
        conf[f"spark.sql.catalog.{name}.warehouse"] = warehouse
    return conf


def iceberg_available(spark: SparkSession) -> bool:
    """True if the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(ICEBERG_CATALOG_IMPL)  # noqa: SLF001
        return True
    except Exception:
        return False


def load_dotenv_file(path) -> dict[str, str]:
    """Minimal ``.env`` parser (KEY=VALUE lines, ``#`` comments,
    optional single/double quotes, optional ``export`` prefix) — the
    reference loads its catalog config with python-dotenv
    (reference pyproject.toml:13); this reads the same file format
    without adding the dependency."""
    out: dict[str, str] = {}
    from pathlib import Path

    for raw in Path(path).read_text().splitlines():
        line = raw.strip()
        if not line or line.startswith("#") or "=" not in line:
            continue
        if line.startswith("export "):
            line = line[len("export "):]
        key, _, val = line.partition("=")
        key, val = key.strip(), val.strip()
        if len(val) >= 2 and val[0] == val[-1] and val[0] in "\"'":
            val = val[1:-1]
        elif " #" in val:
            # unquoted values lose trailing inline comments, matching
            # python-dotenv (quoted values keep their # characters)
            val = val.split(" #", 1)[0].rstrip()
        if key:
            out[key] = val
    return out


def from_env(
    name: str = "iceberg",
    env: dict[str, str] | None = None,
    dotenv_path=None,
) -> dict[str, str]:
    """Deployment-parity config: build the Spark session conf from
    the SAME environment variables the reference's PyIceberg catalog
    reads (reference README.md:37-38 points at PyIceberg's env
    configuration; python-dotenv in pyproject.toml:13 loads them from
    ``.env``). PyIceberg's convention is
    ``PYICEBERG_CATALOG__<NAME>__<KEY>`` where ``__`` nests to ``.``
    and single underscores inside a segment become dashes — e.g.
    ``PYICEBERG_CATALOG__ICEBERG__URI`` → catalog prop ``uri``,
    ``PYICEBERG_CATALOG__ICEBERG__S3__ACCESS_KEY_ID`` →
    ``s3.access-key-id``. Every such prop passes through verbatim to
    ``spark.sql.catalog.<name>.<prop>`` (the Iceberg Spark catalog
    forwards unknown props to its FileIO, so PyIceberg's ``s3.*`` /
    ``adls.*`` keys keep working); ``type`` defaults to ``rest``
    exactly like the reference's REST catalog."""
    import os

    if env is None:
        env = dict(os.environ)
    if dotenv_path is not None:
        merged = load_dotenv_file(dotenv_path)
        merged.update(env)  # real env wins over .env, like dotenv
        env = merged
    prefix = f"PYICEBERG_CATALOG__{name.upper()}__"
    props: dict[str, str] = {}
    for key, val in env.items():
        if not key.upper().startswith(prefix):
            continue
        segs = key[len(prefix):].split("__")
        prop = ".".join(s.lower().replace("_", "-") for s in segs if s)
        if prop:
            props[prop] = val
    conf = configure_catalog(
        name=name,
        catalog_type=props.pop("type", "rest"),
        uri=props.pop("uri", None),
        warehouse=props.pop("warehouse", None),
    )
    for prop, val in props.items():
        conf[f"spark.sql.catalog.{name}.{prop}"] = val
    return conf


# PyIceberg FileIO prop → Hadoop-FS conf, for deployments that read
# the lake through Spark's S3A/ABFS connectors instead of Iceberg's
# native FileIO (e.g. plain `spark.read.parquet("s3a://...")` next to
# the catalog). The Iceberg catalog itself does NOT need these — its
# S3FileIO consumes the `s3.*` catalog props from from_env() directly.
_HADOOP_FS_MAP = {
    "s3.access-key-id": "spark.hadoop.fs.s3a.access.key",
    "s3.secret-access-key": "spark.hadoop.fs.s3a.secret.key",
    "s3.session-token": "spark.hadoop.fs.s3a.session.token",
    "s3.endpoint": "spark.hadoop.fs.s3a.endpoint",
    "s3.path-style-access": "spark.hadoop.fs.s3a.path.style.access",
    "s3.region": "spark.hadoop.fs.s3a.endpoint.region",
    "adls.account-name": "spark.hadoop.fs.azure.account.name",
    "adls.account-key": "spark.hadoop.fs.azure.account.key",
}


def hadoop_fs_conf(catalog_conf: dict[str, str], name: str = "iceberg") -> dict[str, str]:
    """Derive the ``spark.hadoop.fs.*`` twins of a catalog's
    object-store props (see _HADOOP_FS_MAP) so non-catalog reads of
    the same lake work in the same session."""
    prefix = f"spark.sql.catalog.{name}."
    out: dict[str, str] = {}
    for key, val in catalog_conf.items():
        if key.startswith(prefix):
            mapped = _HADOOP_FS_MAP.get(key[len(prefix):])
            if mapped:
                out[mapped] = val
    return out
