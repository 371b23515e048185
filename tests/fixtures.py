"""Adversarial fixture tables (FIXTURES.md §A, modeled on the reference's
backend-equivalence fixtures, reference
tests/test_backend_equivalence/conftest.py:13-252): null matrices, regex
metacharacters, ±0.0, 1e50, bit-boundary ints, 3-valued-logic truth
tables, unique order keys for deterministic windows.
"""

import datetime as dt

DF1 = {
    "col1": [1, 2, 3, 4],
    "col2": ["a", "baa", "c", "d"],
    "cnull": [None, 2, None, None],
}

DF2 = {
    "col1": [0, -2, 1, 2, 3, 4],
    "col2": [0, 0, 1, 2, None, 2],
    "col3": [-0.1, 0.01, 1.5, 2.0, -2.5, 0.0],
}

DF3 = {
    "col1": [-1000, -1000, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4],
    "col2": [0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1],
    "col3": [0, 1, 2, 3, 0, 1, 2, 3, 0, 1, 2, 3],
    "col4": [-1729, -10, -5, -1, 0, 1, 2, 3, 4, 5, 10, 13],  # unique
    "col5": list("abcdafghijkk"),
    "col6": ["x" * 300] * 12,
    "col7": ["y" * 700] * 12,
}

DF4 = {
    "col1": [-1000, None, 0, 0, None, 1, 2, 2, 3, None, 4, 4, None],
    "col2": [0, 1, None, 1, 0, None, 0, 1, 0, 1, None, 1, None],
    "col3": [0, 1, 2, 3, 0, 1, None, 3, 0, 1, 2, None, None],
    "col4": [-1729, -10, -5, -1, 0, 1, 2, 3, 4, 5, 10, 13, None],
    "col5": ["a", "b", "c", "d", None, "f", "g", "h", "i", "j", "k", "k",
             None],
    "col6": ["x" * 300] * 12 + [None],
    "col7": ["y" * 700] * 12 + [None],
}

DF_STRINGS = {
    "col1": ["", " ", "  x  ", "_ %", "--+011x", "Abc", "abc", None,
             "test_%", "% _.AbAbAb", "$&/)", None],
    "col2": ["test_%", "% _.AbAbAb", "", None, "a.b", "x|y", "[ab]", "a+",
             "c*", "^d$", "e?", None],
    "c": ["4352.0", "-0.000", "  8   ", None, "0.1", "-354.2", "2e3",
          "x", "", "7", "-0.5", "1.25"],
    "d": ["010101", "-123124", "   -56 ", None, "0", "42", "99", "x", "",
          "7", "-8", "13"],
    "gb": ["a", "b", "0", "", "c", "d", "a", "b", "0", "", "c", "d"],
}

DF_DATETIME = {
    "col1": [
        dt.datetime(1700, 4, 27, 1, 2, 3, 987123),
        dt.datetime(1970, 1, 1),
        dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
        dt.datetime(2004, 2, 29, 12, 0, 0),
        dt.datetime(2024, 6, 15, 8, 30, 15, 1),
        dt.datetime(2250, 12, 24, 23, 0, 0),
        None,
        dt.datetime(2000, 1, 1),
        dt.datetime(2000, 1, 1, 0, 0, 1),
    ],
    "col2": [
        dt.datetime(1700, 4, 27, 1, 2, 4, 987123),
        dt.datetime(1970, 1, 1),
        None,
        dt.datetime(2004, 2, 29, 11, 59, 59),
        dt.datetime(2024, 6, 15, 8, 30, 15, 2),
        dt.datetime(2250, 12, 24, 23, 0, 1),
        None,
        dt.datetime(2000, 1, 1),
        dt.datetime(1999, 12, 31, 23, 59, 59),
    ],
    "cdate": [
        dt.date(1998, 3, 15),
        dt.date(2024, 2, 29),
        dt.date(1970, 1, 1),
        None,
        dt.date(2000, 12, 31),
        dt.date(2010, 7, 4),
        dt.date(1999, 1, 1),
        None,
        dt.date(2024, 12, 24),
    ],
}

DF_NUM = {
    "a": [-1.5, -0.0, 0.0, 3.14159, 2e6, None, 1e-10, -42.0],
    "zero": [0.0, -0.0, 0.0, -0.0, 0.0, -0.0, 0.0, -0.0],
    "pos": [1e-51, 1e-10, 1.0, 1e10, 1e50, 1e-5, 2.0, 3.0],
    "neg": [-1e19, -1.2e-39, -1.0, -2.5, -1e10, -0.5, -3.0, -4.0],
    "null_s": [0.0, None, None, None, None, None, None, None],
}

DF_INT = {
    "a": [1 << 20, 1 << 20, 3, -7, 0, 5, -5, 2],
    "b": [18282, -2323, None, 4, -4, 7, -7, 1],
    "pos": [1 << 31, (1 << 23) - 1, 1, 2, 3, 5, 7, 11],
    "neg": [-(1 << 31), -(1 << 22), -(1 << 26) + 1, -1, -2, -3, -5, -7],
    "null_s": [0, None, None, None, None, None, None, None],
}

DF_BOOL = {
    "a": [True, True, True, False, False, None],
    "b": [True, False, None, False, None, None],
}

ALL = {
    "df1": DF1, "df2": DF2, "df3": DF3, "df4": DF4,
    "df_strings": DF_STRINGS, "df_datetime": DF_DATETIME,
    "df_num": DF_NUM, "df_int": DF_INT, "df_bool": DF_BOOL,
}


def persistent_rdd_ids(spark) -> set:
    """Ids of every RDD the SparkContext holds persisted: cached
    relations and local checkpoints alike."""
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids
