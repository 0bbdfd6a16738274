"""REST façade — the reference's two query servers unified on Spark.

Endpoint parity (SURVEY §3.1/§3.2; handlers cited):

| Endpoint            | Reference                                   | Here |
|---------------------|---------------------------------------------|------|
| GET  /health        | duckdb_rest_server.py:62-65 + pyiceberg:96  | liveness + session check |
| POST /query         | duckdb_rest_server.py:67-84 (arbitrary SQL) | ``spark.sql`` |
| GET  /list_parquet  | duckdb_rest_server.py:107-115 (glob)        | filesystem glob |
| POST /query_parquet | duckdb_rest_server.py:117-136               | ``spark.read.parquet`` |
| GET  /namespaces    | pyiceberg_rest_server.py:101-112            | SHOW NAMESPACES |
| GET  /tables        | pyiceberg_rest_server.py:114-127            | SHOW TABLES |
| GET  /table         | pyiceberg_rest_server.py:129-171            | schema + properties |
| POST /table_query   | pyiceberg_rest_server.py:173-234            | ``spark.table`` scan |
| GET  /streams       | connector status, s3_connector_deployer:120 | StreamingQuery status |

Two reference bugs are fixed deliberately (SURVEY §2.3 P4/P5):
the row limit is pushed INTO the plan (`.limit(n)` before collection,
vs DuckDB-side fetch-all-then-head at duckdb_rest_server.py:78), and
the PyIceberg-path limit is honored (it's silently ignored at
pyiceberg_rest_server.py:210-215).
"""

from __future__ import annotations

import glob as _glob
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog as cat
from ..schema import FIXTURE_TABLES, register_views

DEFAULT_QUERY_LIMIT = 1000  # duckdb_rest_server.py:74
DEFAULT_TABLE_LIMIT = 100  # pyiceberg_rest_server.py:184


def _json_rows(df: DataFrame, limit: int) -> list[dict]:
    """Result emission (K4): limit inside the plan, then JSON records —
    the Spark analog of fetchdf().to_json(orient='records').

    Records are encoded by ``to_json`` inside the query, so a request is
    one SQL execution and its jobs carry the session's tags;
    ``toJSON()`` would run them through ``toJavaRDD`` outside one."""
    return [
        json.loads(r[0])
        for r in df.limit(limit).select(F.to_json(F.struct("*"))).collect()
    ]


def create_app(spark: SparkSession, sf_dir: str | None = None):
    """Build the Flask app over an existing SparkSession. When
    ``sf_dir`` is given, fixture tables are pre-registered as views so
    /query works against them immediately."""
    from flask import Flask, jsonify, request

    app = Flask("iceberg_kafka_playgroud_spark")
    if sf_dir:
        register_views(spark, sf_dir)

    @app.get("/health")
    def health():
        spark.sql("SELECT 1").collect()  # README.md:499 smoke
        return jsonify({"status": "healthy", "engine": "spark", "tables": list(FIXTURE_TABLES)})

    @app.post("/query")
    def query():
        body = request.get_json(force=True) or {}
        if "query" not in body:
            return jsonify({"error": "missing required field 'query'"}), 400
        try:
            limit = int(body.get("limit", DEFAULT_QUERY_LIMIT))
            df = spark.sql(body["query"])
            return jsonify({"rows": _json_rows(df, limit), "limit": limit})
        except Exception as e:  # noqa: BLE001
            return jsonify({"error": str(e).split("\n")[0]}), 400

    @app.get("/list_parquet")
    def list_parquet():
        path = request.args.get("path", "")
        if not path:
            return jsonify({"error": "missing 'path'"}), 400
        files = sorted(_glob.glob(f"{path.rstrip('/')}/*.parquet") + ([path] if path.endswith(".parquet") else []))
        return jsonify({"files": files})

    @app.post("/query_parquet")
    def query_parquet():
        body = request.get_json(force=True) or {}
        if "path" not in body:
            return jsonify({"error": "missing required field 'path'"}), 400
        try:
            limit = int(body.get("limit", DEFAULT_QUERY_LIMIT))
            df = spark.read.parquet(body["path"])
            return jsonify({"rows": _json_rows(df, limit), "limit": limit})
        except Exception as e:  # noqa: BLE001
            return jsonify({"error": str(e).split("\n")[0]}), 400

    @app.get("/namespaces")
    def namespaces():
        rows = [r["namespace"] for r in cat.list_namespaces(spark).collect()]
        return jsonify({"namespaces": rows})

    @app.get("/tables")
    def tables():
        ns = request.args.get("namespace", "default")
        try:
            rows = [r["tableName"] for r in cat.list_tables(spark, ns).collect()]
        except Exception as e:  # noqa: BLE001
            return jsonify({"error": str(e).split("\n")[0]}), 404
        return jsonify({"namespace": ns, "tables": rows})

    @app.get("/table")
    def table_info():
        ns = request.args.get("namespace", "default")
        tbl = request.args.get("table", "")
        name = f"{ns}.{tbl}" if tbl else ns
        try:
            df = spark.table(name)
            props = {
                r["key"]: r["value"] for r in cat.table_properties(spark, name).collect()
            }
        except Exception as e:  # noqa: BLE001
            return jsonify({"error": str(e).split("\n")[0]}), 404
        schema = [
            {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
            for f in df.schema.fields
        ]
        return jsonify({"table": name, "schema": schema, "properties": props})

    @app.post("/table_query")
    def table_query():
        body = request.get_json(force=True) or {}
        ns = body.get("namespace", "default")
        tbl = body.get("table", "")
        try:
            limit = int(body.get("limit", DEFAULT_TABLE_LIMIT))  # honored, unlike ref
        except (TypeError, ValueError):
            return jsonify({"error": "limit must be an integer"}), 400
        name = f"{ns}.{tbl}" if tbl else ns
        try:
            df = spark.table(name)
            return jsonify({"rows": _json_rows(df, limit), "limit": limit})
        except Exception as e:  # noqa: BLE001
            return jsonify({"error": str(e).split("\n")[0]}), 404

    @app.get("/streams")
    def streams():
        rows = [
            {"id": r["id"], "name": r["name"], "active": r["active"]}
            for r in cat.streaming_query_status(spark).collect()
        ]
        return jsonify({"streams": rows})

    return app


def main() -> None:  # pragma: no cover - manual entry point
    import os

    from ..session import get_spark

    spark = get_spark("rest-facade")
    app = create_app(spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    app.run(host="127.0.0.1", port=int(os.environ.get("PORT", "8888")))


if __name__ == "__main__":  # pragma: no cover
    main()
