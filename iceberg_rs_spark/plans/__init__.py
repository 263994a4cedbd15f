"""The declared query corpus (SURVEY.md §2C) as data.

Importing this package populates the registry in
``iceberg_rs_spark.plans.corpus`` — each query is a (DataFrame builder,
DuckDB oracle SQL) pair consumed by ``__spark_entry__`` and the tests.
"""

from iceberg_rs_spark.plans.corpus import CORPUS, QuerySpec, query  # noqa: F401

# Populate the registry.  ``corpus.queries()`` and ``corpus.oracle_sql()``
# emit names in registration order, so the import order below is the
# order in which every consumer sees the corpus.
import iceberg_rs_spark.plans.tpch  # noqa: F401,E402
import iceberg_rs_spark.plans.joins  # noqa: F401,E402
import iceberg_rs_spark.plans.aggregates  # noqa: F401,E402
import iceberg_rs_spark.plans.windows  # noqa: F401,E402
import iceberg_rs_spark.plans.setops  # noqa: F401,E402
import iceberg_rs_spark.plans.scalar  # noqa: F401,E402
import iceberg_rs_spark.plans.llm  # noqa: F401,E402
import iceberg_rs_spark.plans.scalar2  # noqa: F401,E402
import iceberg_rs_spark.plans.misc  # noqa: F401,E402
import iceberg_rs_spark.plans.udfs  # noqa: F401,E402
import iceberg_rs_spark.plans.tables  # noqa: F401,E402
import iceberg_rs_spark.plans.streaming  # noqa: F401,E402
import iceberg_rs_spark.plans.round4  # noqa: F401,E402
import iceberg_rs_spark.plans.round4b  # noqa: F401,E402
import iceberg_rs_spark.plans.round4c  # noqa: F401,E402
import iceberg_rs_spark.plans.round4d  # noqa: F401,E402
import iceberg_rs_spark.plans.round4e  # noqa: F401,E402
import iceberg_rs_spark.plans.round4f  # noqa: F401,E402
import iceberg_rs_spark.plans.round4g  # noqa: F401,E402
import iceberg_rs_spark.plans.round4h  # noqa: F401,E402
import iceberg_rs_spark.plans.round4i  # noqa: F401,E402
import iceberg_rs_spark.plans.round4j  # noqa: F401,E402
import iceberg_rs_spark.plans.round4k  # noqa: F401,E402
import iceberg_rs_spark.plans.round4l  # noqa: F401,E402
import iceberg_rs_spark.plans.round4m  # noqa: F401,E402
import iceberg_rs_spark.plans.round4n  # noqa: F401,E402
import iceberg_rs_spark.plans.round4o  # noqa: F401,E402
import iceberg_rs_spark.plans.round4p  # noqa: F401,E402
import iceberg_rs_spark.plans.round4q  # noqa: F401,E402
import iceberg_rs_spark.plans.round4r  # noqa: F401,E402
import iceberg_rs_spark.plans.round4s  # noqa: F401,E402
import iceberg_rs_spark.plans.round4t  # noqa: F401,E402
import iceberg_rs_spark.plans.round4u  # noqa: F401,E402
import iceberg_rs_spark.plans.round4v  # noqa: F401,E402
import iceberg_rs_spark.plans.round4w  # noqa: F401,E402
import iceberg_rs_spark.plans.round4x  # noqa: F401,E402
import iceberg_rs_spark.plans.round4y  # noqa: F401,E402
import iceberg_rs_spark.plans.round4z  # noqa: F401,E402
import iceberg_rs_spark.plans.round4aa  # noqa: F401,E402
import iceberg_rs_spark.plans.round4ab  # noqa: F401,E402
import iceberg_rs_spark.plans.round4ac  # noqa: F401,E402
import iceberg_rs_spark.plans.round4ad  # noqa: F401,E402
import iceberg_rs_spark.plans.round4ae  # noqa: F401,E402
import iceberg_rs_spark.plans.round4af  # noqa: F401,E402
import iceberg_rs_spark.plans.round4ag  # noqa: F401,E402
import iceberg_rs_spark.plans.round4ah  # noqa: F401,E402
import iceberg_rs_spark.plans.round4ai  # noqa: F401,E402
import iceberg_rs_spark.plans.round4aj  # noqa: F401,E402
import iceberg_rs_spark.plans.round5  # noqa: F401,E402
import iceberg_rs_spark.plans.round6  # noqa: F401,E402
