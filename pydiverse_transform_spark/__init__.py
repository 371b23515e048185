"""pydiverse_transform_spark — a PySpark-native pipe-based dataframe DSL.

A from-scratch engine with the query surface and semantics of
pydiverse.transform (the reference), re-expressed Spark-first: verbs
build one composed DataFrame plan, Catalyst + Tungsten + AQE execute it.

    import pydiverse_transform_spark as pdt
    t = pdt.read_parquet(spark, ".../lineitem.parquet")
    (t
     >> pdt.filter(t.l_shipdate <= pdt.lit(dt.datetime(1998, 9, 2)))
     >> pdt.group_by(t.l_returnflag, t.l_linestatus)
     >> pdt.summarize(sum_qty=t.l_quantity.sum(), n=pdt.count())
     >> pdt.arrange(pdt.C.l_returnflag)
     >> pdt.export(pdt.Pandas))
"""

from . import types  # noqa: F401
from .errors import (  # noqa: F401
    ColumnNotFoundError,
    DataTypeError,
    FunctionTypeError,
    NonStandardWarning,
    NotSupportedError,
    SubqueryError,
)
from .functions import (  # noqa: F401
    all,
    any,
    coalesce,
    count,
    dense_rank,
    ntile,
    percent_rank,
    lit,
    max,
    min,
    rand,
    rank,
    row_number,
    sum,
    when,
)
from .operators.aligned import aligned, eval_aligned  # noqa: F401
from .operators.pipeable import Pipeable, verb  # noqa: F401
from .operators.verbs import (  # noqa: F401
    alias,
    arrange,
    ast_repr,
    broadcast,
    build_query,
    coalesce_partitions,
    collect,
    columns,
    cross_join,
    distinct,
    drop,
    export,
    filter,
    full_join,
    group_by,
    inner_join,
    join,
    left_join,
    asof_join,
    interval_join,
    map_batches,
    map_groups,
    mutate,
    name,
    rename,
    repartition,
    select,
    show,
    show_query,
    slice_head,
    summarize,
    rollup,
    cube,
    pivot_wider,
    pivot_longer,
    semi_join,
    anti_join,
    unnest,
    transfer_col_references,
    ungroup,
    union,
)
from .plans.expr import C, Col, ColExpr, ColName, Order  # noqa: F401
from .sources import (  # noqa: F401
    from_dict,
    from_pandas,
    from_polars,
    from_rows,
    read_csv,
    read_jdbc,
    read_json,
    read_orc,
    read_parquet,
    read_table,
)
from .sources.sinks import (  # noqa: F401
    save_as_table,
    write_csv,
    write_jdbc,
    write_json,
    write_orc,
    write_parquet,
    write_sorted,
    write_time_partitioned,
)
from .storage import scope  # noqa: F401
from .table import Table  # noqa: F401
from .targets import (  # noqa: F401
    Arrow,
    Dict,
    DictOfLists,
    DuckDb,
    ListOfDicts,
    ListOfRows,
    SqlAlchemy,
    Pandas,
    Polars,
    Scalar,
    Spark,
)
from .types import (  # noqa: F401
    Bool,
    Date,
    Datetime,
    Decimal,
    Dtype,
    Duration,
    Enum,
    Float32,
    Float64,
    Int8,
    Int16,
    Int32,
    Int64,
    List,
    String,
    Time,
    UInt8,
    UInt16,
    UInt32,
    UInt64,
)
from .types import Float, Int  # noqa: F401

__version__ = "0.1.0"


def backend(table) -> str:
    """Backend of a table as a string (reference pipe/table.py:333-339
    returns e.g. 'polars'/'postgres'; here every table is Spark-backed)."""
    from .table import Table

    if not isinstance(table, Table):
        raise TypeError(f"backend() expects a Table, got {type(table)}")
    return "spark"


def is_sql_backed(table) -> bool:
    """Whether the table has a SQL backend (reference
    pipe/table.py:342-346).  Spark SQL is a SQL engine: pipelines compile
    to Catalyst plans exactly as the reference's SQL backends compile to
    SELECT statements, so this is True for every table here."""
    backend(table)  # type-check
    return True
