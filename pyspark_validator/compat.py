"""Reference-API compatibility facade.

Mirrors the reference's pybind11 surface (src/python_bindings/*/bind_*.cpp and
the Algorithm lifecycle of algorithm.cpp:76-96) so a Desbordante user can port
scripts with minimal edits: construct a verifier, ``load_data`` once, call
``execute`` many times with new parameters, read results through the same
getter names (``fd_holds`` / ``get_error`` / ``get_num_error_clusters`` / ...).

Differences, by design (this is Spark, not a single-process engine):
  * ``load_data`` takes a Spark DataFrame, a parquet path, or a pandas frame;
  * column arguments are names or positional indices (the reference is
    index-only);
  * cluster/highlight getters return bounded samples (driver-side lists capped
    by ``cap``) -- at 10^12 rows nobody collects full clusters to one machine.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from pyspark_validator.checks.fd import fd_check
from pyspark_validator.checks.ind import ind_check
from pyspark_validator.checks.ucc import ucc_check


class _Verifier:
    def __init__(self, spark: SparkSession | None = None):
        self._spark = spark
        self._df: DataFrame | None = None

    def _resolve(self, table) -> DataFrame:
        if isinstance(table, DataFrame):
            return table
        if isinstance(table, pd.DataFrame):
            assert self._spark is not None, "pass spark= for pandas input"
            return self._spark.createDataFrame(table)
        if isinstance(table, str):
            spark = self._spark or SparkSession.active()
            return spark.read.parquet(table)
        raise TypeError(f"unsupported table type: {type(table)}")

    def load_data(self, table) -> None:
        """Algorithm::LoadData analog: resolve + cache the input once; execute()
        is re-callable with new params without re-loading (algorithm.cpp:91-95)."""
        self._df = self._resolve(table).persist()
        self._df.count()

    def _cols(self, indices) -> list[str]:
        assert self._df is not None, "call load_data first"
        if all(isinstance(i, int) for i in indices):
            return [self._df.columns[i] for i in indices]
        return list(indices)


class UccVerifier(_Verifier):
    """UCCVerifier analog (bind_ucc_verification.cpp getters)."""

    def execute(self, ucc_indices, cap: int = 100) -> None:
        check = ucc_check(self._df, self._cols(ucc_indices), violation_cap=cap)
        self._summary = check.summary().collect()[0]
        self._violations = (
            check.violations().limit(cap).collect()
            if not self._summary.holds
            else []
        )

    def ucc_holds(self) -> bool:
        return bool(self._summary.holds)

    def get_error(self) -> float:
        return float(self._summary.aucc_error)

    def get_num_clusters_violating_ucc(self) -> int:
        return int(self._summary.n_violating_clusters)

    def get_num_rows_violating_ucc(self) -> int:
        return int(self._summary.n_violating_rows)

    def get_clusters_violating_ucc(self) -> list[list]:
        return [list(r.sample_rows) for r in self._violations]

    def validate_ucc(self, ucc) -> None:
        """bind_ucc_verification.cpp:28-37: accept a mined UCC result object
        and re-run the verifier on its column indices."""
        self.execute(list(ucc.indices))


class FdVerifier(_Verifier):
    """FDVerifier analog (bind_fd_verification.cpp getters)."""

    def execute(self, lhs_indices, rhs_indices, cap: int = 100) -> None:
        check = fd_check(
            self._df,
            self._cols(lhs_indices),
            self._cols(rhs_indices),
            highlight_cap=cap,
        )
        self._summary = check.summary().collect()[0]
        self._highlights = (
            check.highlights().collect() if not self._summary.holds else []
        )

    def fd_holds(self) -> bool:
        return bool(self._summary.holds)

    def get_error(self) -> float:
        return float(self._summary.g1_error)

    def get_num_error_clusters(self) -> int:
        return int(self._summary.n_error_clusters)

    def get_num_error_rows(self) -> int:
        return int(self._summary.n_error_rows)

    def get_highlights(self) -> list[dict]:
        """[{cluster_size, num_distinct_rhs_values,
        most_frequent_rhs_value_proportion, lhs_values}] like Highlight."""
        out = []
        for r in self._highlights:
            d = r.asDict()
            out.append(
                {
                    "cluster_size": d["cluster_size"],
                    "num_distinct_rhs_values": d["num_distinct_rhs"],
                    "most_frequent_rhs_value_proportion": d[
                        "most_frequent_rhs_proportion"
                    ],
                    "lhs_values": [
                        v
                        for k, v in d.items()
                        if k
                        not in (
                            "partition_id",
                            "cluster_size",
                            "num_distinct_rhs",
                            "most_frequent_rhs_proportion",
                        )
                    ],
                }
            )
        return out


class IndVerifier(_Verifier):
    """INDVerifier analog (bind_ind_verification.cpp getters). ``load_data``
    accepts one table or a (lhs_table, rhs_table) pair."""

    def load_data(self, table, rhs_table=None) -> None:
        self._df = self._resolve(table).persist()
        self._df.count()
        self._rhs_df = (
            self._resolve(rhs_table).persist() if rhs_table is not None else self._df
        )

    def _rhs_cols(self, indices) -> list[str]:
        if all(isinstance(i, int) for i in indices):
            return [self._rhs_df.columns[i] for i in indices]
        return list(indices)

    def execute(self, lhs_indices, rhs_indices, cap: int = 100) -> None:
        check = ind_check(
            self._df,
            self._cols(lhs_indices),
            self._rhs_df,
            self._rhs_cols(rhs_indices),
            violation_cap=cap,
        )
        self._summary = check.summary().collect()[0]
        self._violations = (
            check.violations().collect() if not self._summary.holds else []
        )

    def ind_holds(self) -> bool:
        return bool(self._summary.holds)

    def validate_ind(self, ind) -> None:
        """bind_ind_verification.cpp:23-30: accept a mined IND result object
        ('table.column' sides) and re-run the verifier on its columns."""
        lhs = [p.strip().rpartition(".")[2] for p in ind.get_lhs().split(",")]
        rhs = [p.strip().rpartition(".")[2] for p in ind.get_rhs().split(",")]
        self.execute(lhs, rhs)

    def get_error(self) -> float:
        return float(self._summary.error)

    def get_violating_clusters_count(self) -> int:
        return int(self._summary.n_violating_clusters)

    def get_violating_rows_count(self) -> int:
        return int(self._summary.n_violating_rows)

    def get_violating_clusters(self) -> list[tuple]:
        return [tuple(r)[:-1] for r in self._violations]  # drop occurrences col


class DataStats(_Verifier):
    """DataStats analog (bind_statistics.cpp getters, data_stats.h:102-212).

    ``execute()`` runs the wide single-pass profiles (checks/stats.py) for all
    numeric + string columns; getters read the cached rows. Column argument is
    a name or positional index.
    """

    def load_data(self, table) -> None:
        """Pandas inputs get a positional ``__row_index`` column so the
        row-order getters (get_monotonicity / show_sample / get_quantile)
        keep the reference's file-order semantics (DataStats iterates rows
        in CSV order, data_stats.cpp:1312-1340)."""
        if isinstance(table, pd.DataFrame):
            table = table.reset_index(drop=True).reset_index(names="__row_index")
        super().load_data(table)
        # an all-None pandas column arrives as Spark VOID; cast to string so
        # it is profiled (the reference types it kNull and still answers
        # GetNumNulls / GetNullColumns over it, data_stats.cpp:1196-1208)
        from pyspark.sql import functions as F

        void_cols = [
            f.name
            for f in self._df.schema.fields
            if f.dataType.simpleString() == "void"
        ]
        if void_cols:
            self._df = self._df.select(
                *[
                    F.col(c).cast("string").alias(c) if c in void_cols else F.col(c)
                    for c in self._df.columns
                ]
            )

    def execute(self, exact_quantiles: bool = True) -> None:
        from pyspark.sql import functions as F

        from pyspark_validator.checks.stats import (
            deviation_stats,
            numeric_profile,
            string_profile,
        )

        assert self._df is not None, "call load_data first"
        num, strs, bools = [], [], []
        for f in self._df.schema.fields:
            if f.name == "__row_index":
                continue
            t = f.dataType.simpleString()
            if t in ("int", "bigint", "smallint", "tinyint", "double", "float") or t.startswith("decimal"):
                num.append(f.name)
            elif t == "string":
                strs.append(f.name)
            elif t == "boolean":
                bools.append(f.name)
        self._num_cols, self._str_cols, self._bool_cols = num, strs, bools
        self._data_cols = [c for c in self._df.columns if c != "__row_index"]
        self._nrows = self._df.count()
        # bool columns: CountBool skips null/empty (data_stats.cpp:348-365);
        # one tiny agg covers every bool column in the same scan.
        self._bool = {}
        if bools:
            row = self._df.agg(
                *[
                    F.sum(F.col(c).cast("long")).alias(f"__t_{c}")
                    for c in bools
                ],
                *[
                    F.sum((~F.col(c)).cast("long")).alias(f"__f_{c}")
                    for c in bools
                ],
            ).collect()[0]
            self._bool = {
                c: {"true": row[f"__t_{c}"] or 0, "false": row[f"__f_{c}"] or 0}
                for c in bools
            }
        self._num = (
            {
                r["column"]: r.asDict()
                for r in numeric_profile(
                    self._df, num, exact_quantiles=exact_quantiles
                ).collect()
            }
            if num
            else {}
        )
        self._dev = (
            {
                r["column"]: r.asDict()
                for r in deviation_stats(self._df, num, exact_median=exact_quantiles).collect()
            }
            if num
            else {}
        )
        self._str = (
            {r["column"]: r.asDict() for r in string_profile(self._df, strs).collect()}
            if strs
            else {}
        )
        # entropy/gini are lazy (per-column job on first getter call) --
        # the reference's DataStats semantics are string-only with null/empty
        # skipped and log2 (data_stats.cpp:1370-1426), computed on demand
        self._eg = {}

    # -- helpers ------------------------------------------------------------
    def _name(self, col) -> str:
        cols = getattr(self, "_data_cols", None) or self._df.columns
        return cols[col] if isinstance(col, int) else col

    def _n(self, col, key):
        return self._num[self._name(col)][key]

    # -- numeric getters (bind_statistics.cpp names) ------------------------
    def get_min(self, col):
        """Works on strings too, skipping empties (the reference's
        DeleteNullAndEmpties precedes every ordered stat)."""
        name = self._name(col)
        if name in self._num:
            return self._num[name]["min"]
        return self._str[name]["min_value_ne"]

    def get_max(self, col):
        name = self._name(col)
        if name in self._num:
            return self._num[name]["max"]
        return self._str[name]["max_value_ne"]

    def get_sum(self, col):
        return self._n(col, "sum")

    def get_average(self, col):
        return self._n(col, "avg")

    def get_corrected_std(self, col):
        return self._n(col, "std")

    def get_skewness(self, col):
        """The reference's hybrid estimator: population 3rd central moment
        over the CORRECTED (sample) std cubed (data_stats.cpp:139-156) =
        engine population ratio x ((n-1)/n)^1.5."""
        n, sk = self._n(col, "count"), self._n(col, "skewness")
        if sk is None or n < 2:
            return None
        return float(sk) * ((n - 1) / n) ** 1.5

    def get_kurtosis(self, col):
        """Reference: population m4 / sample std^4, minus 3
        (data_stats.cpp:158-169) = engine ratio x ((n-1)/n)^2 - 3."""
        n, ku = self._n(col, "count"), self._n(col, "kurtosis")
        if ku is None or n < 2:
            return None
        return float(ku) * ((n - 1) / n) ** 2 - 3.0

    def get_median(self, col):
        return self._n(col, "median")

    def get_quantile_25(self, col):
        """Nearest-rank pick like GetQuantile (data_stats.cpp:254-262), NOT
        the engine profile's interpolated percentile."""
        return self.get_quantile(0.25, col)

    def get_quantile_75(self, col):
        return self.get_quantile(0.75, col)

    def get_interquartile_range(self, col):
        """Q75 - Q25 with the reference's nearest-rank quantiles; numeric
        columns only (strings return None like the empty Statistic)."""
        if self._name(col) not in self._num:
            return None
        q75, q25 = self.get_quantile(0.75, col), self.get_quantile(0.25, col)
        if q75 is None or q25 is None:
            return None
        return float(q75) - float(q25)

    def get_geometric_mean(self, col):
        return self._n(col, "geometric_mean")

    def get_sum_of_squares(self, col):
        return self._n(col, "sum_squares")

    def get_jarque_bera_statistic(self, col):
        """n/6 * (S^2 + (K-3)^2/4) with the reference's OWN S and K -- whose
        K is already excess (-3), so the formula subtracts 3 twice; literal
        parity with data_stats.cpp:1348-1368 over plausibility."""
        n = self._n(col, "count")
        if n < 2:
            return None
        s, k = self.get_skewness(col), self.get_kurtosis(col)
        if s is None or k is None:
            return None
        return n / 6.0 * (s * s + (k - 3.0) ** 2 / 4.0)

    def get_coefficient_of_variation(self, col):
        return self._n(col, "std") / self._n(col, "avg")

    def get_mean_ad(self, col):
        return self._dev[self._name(col)]["mean_ad"]

    def get_median_ad(self, col):
        return self._dev[self._name(col)]["median_ad"]

    def get_number_of_zeros(self, col):
        return self._n(col, "n_zeros")

    def get_number_of_negatives(self, col):
        return self._n(col, "n_negatives")

    def _eg_row(self, col):
        """DataStats::GetEntropy/GetGiniCoefficient semantics: STRING columns
        only, null/empty skipped, entropy in bits (log2) -- distinct from the
        engine's natural-log PLI entropy (checks/stats.py::entropy_and_gini),
        which backs the oracled contract queries. data_stats.cpp:1370-1426."""
        import math

        from pyspark.sql import functions as F

        from pyspark_validator.checks.stats import entropy_and_gini

        name = self._name(col)
        if name not in self._str:
            return None
        if name not in self._eg:
            filtered = self._df.where(
                F.col(name).isNotNull() & (F.length(name) > 0)
            )
            d = entropy_and_gini(filtered, name).collect()[0].asDict()
            if d["entropy"] is not None:
                d["entropy"] = d["entropy"] / math.log(2.0)
            self._eg[name] = d
        return self._eg[name]

    def get_entropy(self, col):
        row = self._eg_row(col)
        return None if row is None else row["entropy"]

    def get_gini_coefficient(self, col):
        row = self._eg_row(col)
        return None if row is None else row["gini"]

    # -- counts / distinct ---------------------------------------------------
    def get_number_of_values(self, col):
        """rows - nulls - empties (NumberOfValues, data_stats.cpp:171-174);
        for string columns empties are distinct from NULL and excluded."""
        name = self._name(col)
        if name in self._num:
            return self._num[name]["count"]
        d = self._str[name]
        return d["count"] - d["n_empties"]

    def get_number_of_nulls(self, col):
        name = self._name(col)
        src = self._num if name in self._num else self._str
        return src[name]["n_nulls"]

    def get_number_of_distinct(self, col):
        """Distinct over DeleteNullAndEmpties data (data_stats.cpp:176-219):
        for strings the empty value "" is excluded (it is one distinct value,
        so subtract its presence indicator from the engine count)."""
        name = self._name(col)
        if name in self._num:
            return self._num[name]["n_distinct"]
        d = self._str[name]
        return d["n_distinct"] - (1 if d["n_empties"] > 0 else 0)

    def get_columns_with_null(self):
        """Column INDICES with nulls, like the pybind getter
        (bind_statistics.cpp GetColumnsWithNull prints [i, ...])."""
        out = []
        for name, d in {**self._num, **self._str}.items():
            if d["n_nulls"] > 0:
                out.append(self._data_cols.index(name))
        return sorted(out)

    def get_columns_with_all_unique_values(self):
        """Column INDICES where Distinct(i) == num_rows
        (data_stats.cpp:1219-1226): any null or empty disqualifies (they are
        deleted before the distinct count, so the counts can never reach
        num_rows)."""
        out = []
        for name, d in {**self._num, **self._str}.items():
            if (
                d["n_distinct"] == d["count"]
                and d["n_nulls"] == 0
                and d.get("n_empties", 0) == 0
            ):
                out.append(self._data_cols.index(name))
        return sorted(out)

    # -- string getters -------------------------------------------------------
    def get_min_number_of_chars(self, col):
        return self._str[self._name(col)]["min_len"]

    def get_max_number_of_chars(self, col):
        return self._str[self._name(col)]["max_len"]

    def get_avg_number_of_chars(self, col):
        return self._str[self._name(col)]["avg_len"]

    def get_number_of_empties(self, col):
        return self._str[self._name(col)]["n_empties"]

    def _s(self, col, key):
        return self._str[self._name(col)][key]

    def get_number_of_chars(self, col):
        return self._s(col, "n_chars")

    def get_number_of_digit_chars(self, col):
        return self._s(col, "n_digit_chars")

    def get_number_of_lowercase_chars(self, col):
        return self._s(col, "n_lowercase_chars")

    def get_number_of_uppercase_chars(self, col):
        return self._s(col, "n_uppercase_chars")

    def get_number_of_non_letter_chars(self, col):
        return self._s(col, "n_nonletter_chars")

    def get_number_of_words(self, col):
        return self._s(col, "total_words")

    def get_min_number_of_words(self, col):
        return self._s(col, "min_words")

    def get_max_number_of_words(self, col):
        return self._s(col, "max_words")

    def get_number_of_entirely_uppercase_words(self, col):
        return self._s(col, "n_entirely_upper_words")

    def get_number_of_entirely_lowercase_words(self, col):
        return self._s(col, "n_entirely_lower_words")

    def get_whitespace_only_count(self, col):
        return self._s(col, "n_whitespace_only")

    def get_number_of_rows_with_leading_whitespace(self, col):
        return self._s(col, "n_leading_ws")

    def get_number_of_rows_with_trailing_whitespace(self, col):
        return self._s(col, "n_trailing_ws")

    def get_number_of_rows_with_special_chars(self, col):
        return self._s(col, "n_special_rows")

    def get_min_white_spaces(self, col):
        return self._s(col, "min_whitespaces")

    def get_max_white_spaces(self, col):
        return self._s(col, "max_whitespaces")

    # -- char-level getters (computed lazily on first use: two extra shuffles
    #    the wide profile pass does not need to pay unless asked) -------------
    def _char_row(self, col):
        from pyspark_validator.checks.stats import char_stats

        name = self._name(col)
        if not hasattr(self, "_chars"):
            self._chars = {}
        if name not in self._chars:
            self._chars[name] = (
                char_stats(self._df, [name]).collect()[0].asDict()
            )
        return self._chars[name]

    def get_vocab(self, col):
        return self._char_row(col)["vocab"]

    def get_top_k_chars(self, col, k: int = 10):
        return self._char_row(col)["top_k_chars"][:k]

    def get_first_char_frequency(self, col):
        return self._char_row(col)["first_char_freq"]

    def get_last_char_frequency(self, col):
        return self._char_row(col)["last_char_freq"]

    def get_number_of_diacritic_chars(self, col):
        return self._char_row(col)["n_diacritic_chars"]

    def get_top_k_words(self, col, k: int = 10):
        from pyspark_validator.checks.stats import topk_words

        return [
            r["word"] for r in topk_words(self._df, self._name(col), k).collect()
        ]

    def get_words(self, col, cap: int = 10000):
        """Distinct words as a sorted list, bounded by ``cap`` (the reference
        returns the full std::set; at 10^12 rows nobody collects that)."""
        from pyspark.sql import functions as F

        name = self._name(col)
        rows = (
            self._df.select(
                F.explode(F.split(F.trim(F.col(name)), r"\s+")).alias("w")
            )
            .filter(F.length("w") > 0)
            .distinct()
            .orderBy("w")
            .limit(cap)
            .collect()
        )
        return [r["w"] for r in rows]

    # -- exact pybind aliases (bind_statistics.cpp names that differ from the
    #    descriptive ones above) --------------------------------------------
    def get_num_nulls(self, col):
        return self.get_number_of_nulls(col)

    def get_leading_whitespace_count(self, col):
        return self._s(col, "n_leading_ws")

    def get_trailing_whitespace_count(self, col):
        return self._s(col, "n_trailing_ws")

    def get_special_chars_count(self, col):
        return self._s(col, "n_special_rows")

    # -- table-level getters --------------------------------------------------
    def get_number_of_columns(self) -> int:
        return len(self._data_cols)

    def get_null_columns(self) -> list[str]:
        """Columns whose every row is NULL (GetNullColumns,
        data_stats.cpp:1202-1208). Names, not indices, like the sibling
        get_columns_with_null."""
        out = []
        for name, d in {**self._num, **self._str}.items():
            if d["n_nulls"] == self._nrows:
                out.append(name)
        for name in getattr(self, "_bool_cols", []):
            b = self._bool[name]
            if b["true"] + b["false"] == 0 and self._nrows > 0:
                out.append(name)
        return out

    def is_categorical(self, col, quantity: int = 50) -> bool:
        """Distinct(index) <= quantity (data_stats.cpp:235-237)."""
        return self.get_number_of_distinct(col) <= quantity

    # -- bool getters ---------------------------------------------------------
    def get_true_count(self, col) -> int:
        return int(self._bool[self._name(col)]["true"])

    def get_false_count(self, col) -> int:
        return int(self._bool[self._name(col)]["false"])

    # -- numeric extras ---------------------------------------------------------
    def get_zero_percent(self, col) -> float:
        """zeros / (NumberOfValues - NumNulls), replicating the reference
        formula literally (data_stats.cpp:326-344; NumberOfValues itself
        already excludes nulls+empties, data_stats.cpp:171-174 -- so nulls
        are subtracted twice there; parity over plausibility)."""
        name = self._name(col)
        d = self._num[name]
        total = d["count"] - d["n_nulls"]
        return float(d["n_zeros"]) / total

    def get_quantile(self, part: float, col):
        """Element at sorted 0-based position floor(n_values * part) of the
        non-null data (data_stats.cpp:254-262) -- the reference's nearest-rank
        pick, NOT an interpolated percentile. One orderBy+offset job; exact."""
        from pyspark.sql import functions as F

        name = self._name(col)
        cond = F.col(name).isNotNull()
        if name in self._str:
            cond = cond & (F.length(name) > 0)  # DeleteNullAndEmpties
        sel = self._df.select(name).where(cond)
        if name in self._num:
            n = self._num[name]["count"]
        elif name in self._str:
            n = self._str[name]["count"] - self._str[name]["n_empties"]
        else:
            n = sel.count()
        if n == 0:
            return None
        k = int(n * part)
        if k >= n:
            k = n - 1
        row = sel.orderBy(name).offset(k).limit(1).collect()
        return row[0][0] if row else None

    def get_monotonicity(self, col, order_by: str | None = None) -> str:
        """'equal' / 'ascending' / 'descending' / 'none' over the rows in
        file order, nulls skipped (GetMonotonicity, data_stats.cpp:1312-1346).
        Needs a pandas input (positional __row_index) or an explicit
        order_by column -- Spark frames have no inherent row order."""
        from pyspark.sql import functions as F

        from pyspark_validator.checks.stats import monotonicity

        order = order_by or (
            "__row_index" if "__row_index" in self._df.columns else None
        )
        if order is None:
            raise RuntimeError(
                "monotonicity needs an order_by column (or a pandas input, "
                "which gets a positional __row_index)"
            )
        name = self._name(col)
        cond = F.col(name).isNotNull()
        if name in self._str:
            # the reference skips IsNullOrEmpty rows (data_stats.cpp:1322)
            cond = cond & (F.length(name) > 0)
        r = monotonicity(self._df.where(cond), name, order).collect()[0]
        if r.monotonic_asc and r.monotonic_desc:
            return "equal"
        if r.monotonic_asc:
            return "ascending"
        if r.monotonic_desc:
            return "descending"
        return "none"

    def show_sample(
        self, start_row: int, end_row: int, start_col: int, end_col: int
    ) -> list[list[str]]:
        """1-based inclusive row/col window as strings (ShowSample,
        data_stats.cpp:221-234). Row order = __row_index for pandas inputs;
        Spark inputs fall back to the frame's scan order (documented caveat:
        only deterministic for single-file / sorted sources)."""
        cols = self._data_cols[start_col - 1 : end_col]
        if "__row_index" in self._df.columns:
            from pyspark.sql import functions as F

            rows = (
                self._df.where(
                    (F.col("__row_index") >= start_row - 1)
                    & (F.col("__row_index") <= end_row - 1)
                )
                .orderBy("__row_index")
                .select(cols)
                .collect()
            )
        else:
            rows = self._df.select(cols).limit(end_row).collect()[start_row - 1 :]
        return [["" if v is None else str(v) for v in r] for r in rows]

    def get_all_statistics_as_string(self) -> str:
        import json

        return json.dumps(
            {"numeric": self._num, "deviation": self._dev, "string": self._str},
            default=str,
            indent=1,
        )


class MdVerifier(_Verifier):
    """md/md_verifier/md_verifier.h:19-46 getter parity: GetResult,
    GetTrueRhsDecisionBoundary, GetMDSuggestion, GetHighlights. Classifiers
    are (fn, left_col, right_col_or_None, boundary) tuples, as in
    ColumnSimilarityClassifier(column_match, decision_boundary)."""

    def load_data(self, left_table, right_table=None) -> None:
        self._df = self._resolve(left_table)
        self._right = self._resolve(right_table) if right_table is not None else None

    def execute(self, lhs, rhs, left_id=None, right_id=None, cap: int = 100) -> None:
        from pyspark_validator.checks.md import md_check

        if self._df is None:
            raise RuntimeError("call load_data first")
        kw = {}
        if left_id is not None:
            kw["left_id"] = left_id
        if right_id is not None:
            kw["right_id"] = right_id
        elif left_id is not None:
            kw["right_id"] = left_id
        check = md_check(self._df, lhs, rhs, right=self._right, **kw)
        self._input_rhs_boundary = float(check.rhs.boundary)
        self._summary = check.summary().collect()[0]
        self._highlights = [r.asDict() for r in check.highlights().limit(cap).collect()]
        self._suggestion = {
            "lhs": [(cm.name, cm.boundary) for cm in check.lhs],
            "rhs": (check.rhs.name, self._summary.true_rhs_boundary),
            "holds": self._summary.holds,
        }

    def get_result(self) -> bool:
        return bool(self._summary.holds)

    def md_holds(self) -> bool:
        """bind_md_verification.cpp:57 alias of GetResult."""
        return self.get_result()

    def get_true_rhs_decision_boundary(self) -> float:
        return float(self._summary.true_rhs_boundary)

    def get_md_suggestion(self) -> dict:
        return self._suggestion

    def get_input_md(self) -> dict:
        """bind_md_verification.cpp:59: the MD as specified (input
        boundaries, not the suggested true ones)."""
        return {
            "lhs": list(self._suggestion["lhs"]),
            "rhs": (self._suggestion["rhs"][0], self._input_rhs_boundary),
        }

    def get_highlights(self) -> list[dict]:
        return self._highlights

    def get_highlights_copy(self) -> list[dict]:
        """bind_md_verification.cpp:55: an owned copy of the highlights."""
        return [dict(h) for h in self._highlights]


class SdVerifier(_Verifier):
    """sd/sd_verifier/sd_verifier.h getter parity: GetOPS, GetViolations,
    GetError, GetConfidence, Holds(error). Uses the exact Fenwick/segment-tree
    DP (SDCheck.optimal), matching the reference's minimum operation count."""

    def execute(self, lhs_indices, rhs_indices, g1: float = 0.0, g2: float = -1.0,
                cap: int = 1000) -> None:
        import math

        from pyspark_validator.checks.sd import sd_check

        if self._df is None:
            raise RuntimeError("call load_data first")
        (x,) = self._cols(lhs_indices)
        (y,) = self._cols(rhs_indices)
        g2_f = math.inf if g2 < 0 else float(g2)  # reference: negative = inf
        row = (
            sd_check(self._df, x, y, g1=float(g1), g2=g2_f)
            .optimal(violation_cap=cap)
            .collect()[0]
        )
        self._row = row

    def get_ops(self) -> int:
        return int(self._row.ops)

    def get_confidence(self) -> float:
        return float(self._row.confidence)

    def get_error(self) -> float:
        return 1.0 - float(self._row.confidence)

    def holds(self, error: float) -> bool:
        return self.get_error() <= error

    def get_violations(self) -> list[dict]:
        dels = [{"kind": "deletion", "row": int(i)} for i in self._row.deletions]
        ins = [
            {
                "kind": "insertion",
                "left_row": int(i.left_id),
                "right_row": int(i.right_id),
                "min_insertions": int(i.min_insertions),
                "max_insertions": int(i.max_insertions),
            }
            for i in self._row.insertions
        ]
        return dels + ins


class AcRanges:
    """ac.ACRanges analog (bind_ac.cpp): column_indices + (lo, hi) pairs."""

    def __init__(self, column_indices: tuple[int, int], ranges: list[tuple[float, float]]):
        self.column_indices = column_indices
        self.ranges = ranges

    def __repr__(self) -> str:
        return f"AcRanges({self.column_indices}, {self.ranges})"


class AcException:
    """ac.ACException analog (ac_exception.h:12-23): row id + column pairs."""

    def __init__(self, row_index, column_pairs: list[tuple[int, int]]):
        self.row_index = row_index
        self.column_pairs = column_pairs

    def __repr__(self) -> str:
        return f"AcException({self.row_index}, {self.column_pairs})"


class AcAlgorithm(_Verifier):
    """ACAlgorithm analog (bind_ac.cpp: get_ac_ranges / get_ac_exceptions).

    Differences, by design: the reference sizes an mt19937 row sample from
    (fuzziness, p_fuzz) -- irreproducible across partitionings -- so here the
    sampled mode is an explicit deterministic ``sample_fraction`` (None = the
    reference's fuzziness=0 full-data mode, in which exceptions are empty by
    construction). Exceptions are keyed by ``id_column`` values rather than
    positional row indices (positions are not stable under distribution);
    pandas inputs get a positional ``__row_index`` column attached at load so
    scripts ported from the reference keep index semantics.
    """

    def load_data(self, table) -> None:
        if isinstance(table, pd.DataFrame):
            table = table.reset_index(drop=True).reset_index(names="__row_index")
        super().load_data(table)

    def execute(
        self,
        bin_operation: str = "+",
        weight: float = 0.1,
        bumps_limit: int = 0,
        sample_fraction: float | None = None,
        id_column: str | None = None,
        cap: int = 10000,
    ) -> None:
        from pyspark_validator.checks.ac import ACSuite, _merge_to_limit

        if self._df is None:
            raise RuntimeError("call load_data first")
        self._id_column = id_column or (
            "__row_index" if "__row_index" in self._df.columns else None
        )
        data_cols = [c for c in self._df.columns if c != "__row_index"]
        self._col_index = {c: i for i, c in enumerate(data_cols)}
        self._suite = ACSuite(
            self._df, bin_operation, weight, bumps_limit, columns=data_cols
        )
        self._ranges: list[AcRanges] = []
        self._ranges_by_pair: dict[tuple[str, str], list[tuple[float, float]]] = {}
        for lhs, rhs in self._suite.pairs():
            chk = self._suite.check(lhs, rhs)
            chk.sample_fraction = sample_fraction
            merged = _merge_to_limit(
                [(r["lo"], r["hi"]) for r in chk.ranges().orderBy("lo").collect()],
                bumps_limit,
            )
            self._ranges_by_pair[(lhs, rhs)] = merged
            self._ranges.append(
                AcRanges((self._col_index[lhs], self._col_index[rhs]), merged)
            )
        self._cap = cap

    def get_ac_ranges(self) -> list[AcRanges]:
        return self._ranges

    def get_ranges_by_columns(self, lhs_i: int, rhs_i: int) -> AcRanges:
        for r in self._ranges:
            if r.column_indices == (lhs_i, rhs_i):
                return r
        raise KeyError((lhs_i, rhs_i))

    def get_ac_exceptions(self) -> list[AcException]:
        """CollectExceptions analog, sorted by row id; bounded by ``cap``."""
        if self._id_column is None:
            raise RuntimeError(
                "exceptions need an id_column (or a pandas input, which gets "
                "a positional __row_index)"
            )
        rows = (
            self._suite.exception_rows([self._id_column], self._ranges_by_pair)
            .orderBy(self._id_column)
            .limit(self._cap)
            .collect()
        )
        return [
            AcException(
                r[self._id_column],
                [
                    (self._col_index[p["lhs"]], self._col_index[p["rhs"]])
                    for p in r["column_pairs"]
                ],
            )
            for r in rows
        ]


class MetricVerifier(_Verifier):
    """MetricVerifier analog (bind_mfd_verification.cpp: mfd_holds,
    get_highlights). Highlights are per violating CLUSTER (lhs values +
    max_distance = diameter or its 2-approx upper bound), not per point --
    at scale the per-point list (highlight.h data_index) is unboundedly
    large; the furthest-pair witness per cluster is what a user acts on."""

    def execute(
        self,
        lhs_indices,
        rhs_indices,
        metric: str = "euclidean",
        parameter: float = 0.0,
        q: int = 2,
        metric_algorithm: str = "auto",
        dist_from_null_is_infinity: bool = False,
        cap: int = 100,
    ) -> None:
        from pyspark_validator.checks.mfd import mfd_check

        algo = {"brute": "brute", "approx": "approx", "calipers": "approx", "auto": "auto"}[
            metric_algorithm
        ]
        check = mfd_check(
            self._df,
            self._cols(lhs_indices),
            self._cols(rhs_indices),
            metric=metric,
            parameter=parameter,
            q=q,
            dist_from_null_is_infinity=dist_from_null_is_infinity,
            algo=algo,
            highlight_cap=cap,
        )
        self._summary = check.summary().collect()[0]
        lhs_names = {f"__x{i}": c for i, c in enumerate(check.lhs)}
        self._highlights = (
            [
                {lhs_names.get(k, k): v for k, v in r.asDict().items()}
                for r in check.highlights().collect()
            ]
            if not self._summary.holds
            else []
        )

    def mfd_holds(self) -> bool:
        return bool(self._summary.holds)

    def get_highlights(self) -> list[dict]:
        return [
            {**h, "max_distance": h.get("diameter")} for h in self._highlights
        ]


class NdVerifier(_Verifier):
    """NDVerifier analog (bind_nd_verification.cpp). nd_holds /
    global_min_weight / real_weight are exact; highlights carry each violating
    LHS value with its occurrence count, distinct-RHS count and the most
    frequent RHS values (value lists bounded -- nobody collects a 10^12-row
    cluster's index vector to the driver)."""

    def execute(self, lhs_indices, rhs_indices, weight: int, cap: int = 100) -> None:
        from pyspark.sql import functions as F

        from pyspark_validator.checks.nd import nd_check

        lhs, rhs = self._cols(lhs_indices), self._cols(rhs_indices)
        self._lhs, self._rhs, self._weight = lhs, rhs, int(weight)
        self._summary = nd_check(self._df, lhs, rhs, weight=weight).collect()[0]
        self._hl_rows = []
        if not self._summary.holds:
            lv = F.concat_ws("|", *[F.col(c).cast("string") for c in lhs])
            rv = F.concat_ws("|", *[F.col(c).cast("string") for c in rhs])
            vc = (
                self._df.select(lv.alias("__x"), rv.alias("__y"))
                .groupBy("__x", "__y")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            per_x = vc.groupBy("__x").agg(
                F.sum("__c").alias("occurrences_number"),
                F.count(F.lit(1)).alias("distinct_rhs_values_number"),
                F.slice(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("__c"), F.col("__y"))),
                        asc=False,
                    ),
                    1,
                    20,
                ).alias("__top"),
            )
            self._hl_rows = (
                per_x.filter(F.col("distinct_rhs_values_number") > self._weight)
                .orderBy(F.desc("distinct_rhs_values_number"), F.asc("__x"))
                .limit(cap)
                .collect()
            )

    @property
    def nd_holds(self) -> bool:
        return bool(self._summary.holds)

    @property
    def real_weight(self) -> int:
        return int(self._summary.real_weight)

    @property
    def global_min_weight(self) -> int:
        """The minimal weight for which the ND holds == the real weight."""
        return int(self._summary.real_weight)

    @property
    def highlights(self) -> list[dict]:
        out = []
        for r in self._hl_rows:
            top_c = r["__top"][0]["__c"] if r["__top"] else 0
            out.append(
                {
                    "lhs_value": r["__x"],
                    "occurrences_number": int(r["occurrences_number"]),
                    "distinct_rhs_values_number": int(
                        r["distinct_rhs_values_number"]
                    ),
                    "most_frequent_rhs_values": [
                        s["__y"] for s in r["__top"] if s["__c"] == top_c
                    ],
                }
            )
        return out

    def _freqs(self, cols: list[str], cap: int) -> dict:
        from pyspark.sql import functions as F

        v = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        rows = (
            self._df.select(v.alias("__v"))
            .groupBy("__v")
            .agg(F.count(F.lit(1)).alias("__c"))
            .orderBy(F.desc("__c"), F.asc("__v"))
            .limit(cap)
            .collect()
        )
        return {r["__v"]: int(r["__c"]) for r in rows}

    def get_lhs_frequencies(self, cap: int = 10000) -> dict:
        return self._freqs(self._lhs, cap)

    def get_rhs_frequencies(self, cap: int = 10000) -> dict:
        return self._freqs(self._rhs, cap)


class OdVerifier(_Verifier):
    """SetBasedAodVerifier analog (bind_od_verification.cpp: holds(error),
    get_error, get_removal_set). OC and OFD take their own contexts, exactly
    like the reference options; the removal set is the union of both per-OD
    sets (verifier.cpp:74-76). Row identity: pass ``row_ref`` naming a stable
    id column, or load a pandas frame (a positional __row_index is attached,
    so reference scripts keep 0-based row indices)."""

    def load_data(self, table) -> None:
        if isinstance(table, pd.DataFrame):
            table = table.reset_index(drop=True).reset_index(names="__row_index")
        super().load_data(table)

    def execute(
        self,
        oc_context: list | None = None,
        oc_left=None,
        oc_right=None,
        oc_left_ordering: str = "ascending",
        ofd_context: list | None = None,
        ofd_right=None,
        row_ref: str | None = None,
        cap: int = 100_000,
    ) -> None:
        from pyspark.sql import functions as F

        from pyspark_validator.checks.od import aod_check

        ref = row_ref or (
            "__row_index" if "__row_index" in self._df.columns else None
        )
        if ref is None:
            raise RuntimeError(
                "removal sets need a row id: pass row_ref= or load a pandas "
                "frame (gets a positional __row_index)"
            )
        sets = []
        if oc_left is not None:
            ctx = self._cols(oc_context or [])
            df = self._df
            if not ctx:  # global group: non-foldable constant key
                df = df.withColumn("__g", F.pmod(F.xxhash64(F.col(ref)), F.lit(1)))
                ctx = ["__g"]
            (l,) = self._cols([oc_left])
            (r,) = self._cols([oc_right])
            sets.append(
                aod_check(df, ctx, oc=(l, r), ordering=oc_left_ordering)
                .removal_rows(ref)
            )
        if ofd_right is not None:
            ctx = self._cols(ofd_context or [])
            df = self._df
            if not ctx:
                df = df.withColumn("__g", F.pmod(F.xxhash64(F.col(ref)), F.lit(1)))
                ctx = ["__g"]
            (rr,) = self._cols([ofd_right])
            sets.append(aod_check(df, ctx, ofd_right=rr).removal_rows(ref))
        if not sets:
            raise ValueError("provide an OC (oc_left/oc_right) and/or ofd_right")
        union = sets[0]
        for s in sets[1:]:
            union = union.unionByName(s)
        self._n_rows = self._df.count()
        self._removal = sorted(
            r.row_ref for r in union.distinct().limit(cap).collect()
        )

    def get_removal_set(self) -> list:
        return list(self._removal)

    def get_error(self) -> float:
        return len(self._removal) / self._n_rows

    def holds(self, error: float = 0.0) -> bool:
        return self.get_error() <= error


class CfdVerifier(_Verifier):
    """CFDVerifier analog (bind_cfd_verification.cpp). LHS/RHS pattern items
    are (column, constant-or-None) pairs: None = variable (_)."""

    def execute(self, lhs, rhs, minsup: int = 1, minconf: float = 1.0, cap: int = 100) -> None:
        from pyspark_validator.checks.cfd import cfd_check

        lhs = [(self._cols([c])[0], v) for c, v in lhs]
        rhs = (self._cols([rhs[0]])[0], rhs[1])
        check = cfd_check(
            self._df, lhs, rhs, minsup=minsup, minconf=minconf, highlight_cap=cap
        )
        self._summary = check.summary().collect()[0]
        self._highlights = (
            [r.asDict() for r in check.highlights().collect()]
            if self._summary.n_violating_rows > 0
            else []
        )

    def cfd_holds(self) -> bool:
        return bool(self._summary.holds)

    def get_real_support(self) -> int:
        return int(self._summary.support)

    def get_real_confidence(self) -> float:
        return float(self._summary.confidence)

    def get_num_clusters_violating_cfd(self) -> int:
        return int(self._summary.n_violating_clusters)

    def get_num_rows_violating_cfd(self) -> int:
        return int(self._summary.n_violating_rows)

    def get_highlights(self) -> list[dict]:
        return self._highlights


class CindVerifier(_Verifier):
    """CINDVerifier analog (cind_verifier.h:60-99, cind_verifier.cpp
    ExecuteInternal). Baskets = distinct LHS inclusion keys;
    real_validity = included_support / supporting_baskets (-1 when nothing
    supports the condition), real_completeness = included_support /
    included_baskets_total (0 when nothing is included). The condition is
    either a Column/SQL predicate (``lhs_condition``) or the reference's
    ``cind_condition_values`` list aligned with the conditional attributes
    (every LHS column outside the inclusion key, in column order; '_'/'-'
    are wildcards)."""

    def load_data(self, table, rhs_table=None) -> None:
        self._df = self._resolve(table).persist()
        self._df.count()
        self._rhs_df = (
            self._resolve(rhs_table).persist() if rhs_table is not None else self._df
        )

    def execute(
        self,
        lhs_indices,
        rhs_indices,
        lhs_condition=None,
        rhs_condition=None,
        condition_values=None,
        condition_type: str = "group",
        min_validity: float = 1.0,
        min_completeness: float = 1.0,
        cap: int = 100,
    ) -> None:
        from pyspark.sql import functions as F

        from pyspark_validator.checks.cind import cind_check

        lhs_cols = self._cols(lhs_indices)
        rhs_cols = (
            [self._rhs_df.columns[i] for i in rhs_indices]
            if all(isinstance(i, int) for i in rhs_indices)
            else list(rhs_indices)
        )
        if condition_values is not None:
            same_table = self._rhs_df is self._df
            excluded = set(lhs_cols) | (set(rhs_cols) if same_table else set())
            conditional = [c for c in self._df.columns if c not in excluded]
            if len(condition_values) != len(conditional):
                raise ValueError(
                    "cind_condition_values size must equal number of "
                    "conditional attributes"
                )
            preds = [
                F.col(c).cast("string") == str(v)
                for c, v in zip(conditional, condition_values)
                if str(v) not in ("_", "-")
            ]
            if preds:
                cond = preds[0]
                for p in preds[1:]:
                    cond = cond & p
                lhs_condition = (
                    cond if lhs_condition is None else cond & lhs_condition
                )
        check = cind_check(
            self._df,
            lhs_cols,
            self._rhs_df,
            rhs_cols,
            lhs_condition=lhs_condition,
            rhs_condition=rhs_condition,
            condition_type=condition_type,
            violation_cap=cap,
        )
        self._summary = check.summary().collect()[0]
        self._violations = (
            [tuple(r) for r in check.violations().collect()]
            if self._summary.n_violating_rows > 0
            else []
        )
        self._min_validity = float(min_validity)
        self._min_completeness = float(min_completeness)

    def get_real_validity(self) -> float:
        return float(self._summary.validity)

    def get_real_completeness(self) -> float:
        return float(self._summary.completeness)

    def get_supporting_baskets(self) -> int:
        return int(self._summary.supporting_baskets)

    def get_included_supporting_baskets(self) -> int:
        return int(self._summary.included_support)

    def get_included_baskets_total(self) -> int:
        return int(self._summary.included_baskets_total)

    def holds(self) -> bool:
        return (
            self.get_real_validity() >= self._min_validity
            and self.get_real_completeness() >= self._min_completeness
        )

    def get_violating_clusters_count(self) -> int:
        return int(self._summary.n_violating_clusters)

    def get_violating_rows_count(self) -> int:
        return int(self._summary.n_violating_rows)

    def get_violating_clusters(self) -> list[tuple]:
        """[(lhs values..., occurrences, basket_rows)] per violating basket."""
        return self._violations


class DomainPAC(dict):
    """DomainPAC result object (domain_pac.h:27-81, bind_pac.cpp:48-56): a
    dict {'epsilon','delta','column_names','domain_name'} carrying the
    reference getters and display strings."""

    def get_epsilon(self) -> float:
        return float(self["epsilon"])

    def get_delta(self) -> float:
        return float(self["delta"])

    def get_column_names(self) -> list[str]:
        return list(self["column_names"])

    def get_domain_name(self) -> str:
        return self["domain_name"]

    def _stem(self, arg: str) -> str:
        # StringStem (domain_pac.h:27-31); C++ default ostream float format
        # is %g-like 6 significant digits
        return (
            f"Pr({arg} ∈ {self['domain_name']}±{self['epsilon']:g})"
            f" ≥ {self['delta']:g}"
        )

    def to_short_string(self) -> str:
        cols = "[" + " ".join(self["column_names"]) + "]"
        return self._stem(cols)

    def to_long_string(self) -> str:
        cols = "[" + " ".join(self["column_names"]) + "]"
        return f"Domain PAC {self._stem('x')} on columns {cols}"

    def __str__(self) -> str:
        return self.to_long_string()


class PacVerifier(_Verifier):
    """DomainPACVerifier analog (domain_pac_verifier.h:70-79: get_pac,
    get_highlights(eps_1, eps_2)). The domain is an interval, a value set, a
    category set, or any pyspark Column distance expression (CustomDomain
    analog)."""

    def execute(
        self,
        column,
        domain,
        min_delta: float = 0.9,
        steps: int = 100,
        exact: bool = False,
    ) -> None:
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        from pyspark_validator.checks.pac import (
            categorical_distance,
            domain_pac_check,
            interval_distance,
            value_set_distance,
        )

        (name,) = self._cols([column])
        if isinstance(domain, Column):
            dist = domain
        elif isinstance(domain, tuple) and len(domain) == 2:
            dist = interval_distance(F.col(name), *domain)
        elif isinstance(domain, (set, frozenset)):
            dist = categorical_distance(F.col(name), sorted(domain))
        elif isinstance(domain, list):
            dist = value_set_distance(F.col(name), domain)
        else:
            raise TypeError(f"unsupported domain spec: {type(domain)}")
        self._col_name = name
        if isinstance(domain, Column):
            self._domain_name = "D"
        elif isinstance(domain, tuple):
            self._domain_name = f"[{domain[0]:g}, {domain[1]:g}]"
        else:
            self._domain_name = (
                "{" + ", ".join(str(v) for v in sorted(domain)) + "}"
            )
        self._check = domain_pac_check(self._df, dist, exact=exact)
        self._dist = dist
        self._pac = self._check.elbow(min_delta=min_delta, steps=steps)

    def get_pac(self) -> "DomainPAC":
        """DomainPAC analog: a dict with the reference result-object surface
        (get_epsilon/get_delta/to_short_string/to_long_string,
        bind_pac.cpp:48-56)."""
        return DomainPAC(
            {**self._pac, "column_names": [self._col_name],
             "domain_name": self._domain_name}
        )

    def get_highlights(self, eps_1: float = 0.0, eps_2: float = -1.0, cap: int = 100) -> list:
        from pyspark.sql import functions as F

        cond = self._dist > F.lit(float(eps_1))
        if eps_2 >= 0:
            cond = cond & (self._dist <= F.lit(float(eps_2)))
        rows = (
            self._df.filter(cond)
            .select(F.col(self._col_name).alias("value"), self._dist.alias("distance"))
            .orderBy(F.desc("distance"), F.asc("value"))
            .limit(cap)
            .collect()
        )
        return [(r["value"], float(r["distance"])) for r in rows]


class ArVerifier(_Verifier):
    """ARVerifier analog (bind_ar_verification.cpp). Input is the long
    (tid, item) transaction encoding; the rule is LEFT -> RIGHT item lists.
    get_clusters_violating_ar returns {priority_class: n_transactions}
    (the reference's per-cluster index vectors are unbounded at scale)."""

    def execute(
        self,
        left: list[str],
        right: list[str],
        tid_col: str = "tid",
        item_col: str = "item",
        minsup: float = 0.0,
        minconf: float = 0.0,
        cap: int = 1000,
    ) -> None:
        from pyspark.sql import functions as F

        from pyspark_validator.checks.ar import ar_check

        check = ar_check(
            self._df, left, right, tid_col=tid_col, item_col=item_col,
            minsup=minsup, minconf=minconf,
        )
        self._summary = check.summary().collect()[0]
        self._clusters = {
            r["priority"]: int(r["n_transactions"])
            for r in check.clusters().collect()
        }
        nl = F.col("n_left")
        full = (nl == len(check.left)) & (F.col("n_right") == len(check.right))
        self._violating_tids = (
            [
                r["tid"]
                for r in check._coverage.filter((nl > 0) & ~full)
                .select("tid")
                .orderBy("tid")
                .limit(cap)
                .collect()
            ]
            if self._summary.n_violating > 0
            else []
        )

    def ar_holds(self) -> bool:
        return bool(self._summary.holds)

    def get_real_support(self) -> float:
        return float(self._summary.support)

    def get_real_confidence(self) -> float:
        return float(self._summary.confidence)

    def get_num_transactions_satisfying_ar(self) -> int:
        return int(self._summary.n_satisfying)

    def get_num_transactions_violating_ar(self) -> int:
        return int(self._summary.n_violating)

    def get_num_clusters_violating_ar(self) -> int:
        return len([k for k, v in self._clusters.items() if v > 0])

    def get_clusters_violating_ar(self) -> dict:
        return dict(self._clusters)

    def get_violating_transaction_ids(self) -> list:
        return list(self._violating_tids)


class DcVerifier(_Verifier):
    """DCVerifier analog (bind_dc_verification.cpp: dc_holds,
    get_violations). Predicates are (s_expr, op, t_expr) triples like
    ('s.price', '<', 't.price')."""

    def execute(
        self,
        predicates: list[tuple[str, str, str]],
        row_ref: str | None = None,
        allow_cross_join: bool = False,
        cap: int = 100,
    ) -> None:
        from pyspark_validator.checks.dc import dc_check

        check = dc_check(
            self._df,
            predicates,
            row_ref=row_ref,
            allow_cross_join=allow_cross_join,
            highlight_cap=cap,
        )
        self._summary = check.summary().collect()[0]
        self._violations = (
            [(r["rid_s"], r["rid_t"]) for r in check.highlights().collect()]
            if not self._summary.holds
            else []
        )

    def dc_holds(self) -> bool:
        return bool(self._summary.holds)

    def get_violations(self) -> list[tuple]:
        return list(self._violations)

    def get_num_violating_pairs(self) -> int:
        return int(self._summary.n_violating_pairs)


class DdVerifier(_Verifier):
    """DDVerifier analog (bind_dd_verification.cpp: dd_holds, get_error,
    get_num_error_pairs, get_highlights). The DD is lhs/rhs {column: (lo, hi)}
    range maps."""

    def execute(self, lhs: dict, rhs: dict, row_ref: str | None = None, cap: int = 100) -> None:
        from pyspark_validator.checks.dd import dd_check

        check = dd_check(self._df, lhs, rhs, row_ref=row_ref, highlight_cap=cap)
        self._summary = check.summary().collect()[0]
        self._highlights = (
            [r.asDict() for r in check.highlights().collect()]
            if self._summary.n_violating_pairs > 0
            else []
        )

    def dd_holds(self) -> bool:
        return bool(self._summary.holds)

    def get_error(self) -> float:
        return float(self._summary.error)

    def get_num_error_pairs(self) -> int:
        return int(self._summary.n_violating_pairs)

    def get_highlights(self) -> list[dict]:
        return self._highlights


class PfdVerifier(_Verifier):
    """PFDVerifier analog (bind_pfd_verification.cpp: get_error,
    get_num_violating_clusters, get_num_violating_rows,
    get_violating_clusters). error_measure in {'per_tuple', 'per_value'}."""

    def execute(
        self, lhs_indices, rhs_indices, error_measure: str = "per_tuple", cap: int = 100
    ) -> None:
        from pyspark_validator.checks.fd import fd_check

        check = fd_check(
            self._df, self._cols(lhs_indices), self._cols(rhs_indices),
            highlight_cap=cap,
        )
        self._row = check.pfd(measure=error_measure).collect()[0]
        self._clusters = (
            [r.asDict() for r in check.highlights().collect()]
            if self._row.n_violating_clusters > 0
            else []
        )

    def get_error(self) -> float:
        return float(self._row.error)

    def get_num_violating_clusters(self) -> int:
        return int(self._row.n_violating_clusters)

    def get_num_violating_rows(self) -> int:
        return int(self._row.n_violating_rows)

    def get_violating_clusters(self) -> list[dict]:
        return self._clusters


class AfdMetricCalculator(_Verifier):
    """AFDMetricCalculator analog (bind_afd_metric_calculation.cpp:
    get_result; metrics afd_metric.h: g2, tau, mu_plus, fi)."""

    _METRICS = {"g2": "g2", "tau": "tau", "mu_plus": "mu_plus", "fi": "fi"}

    def execute(self, lhs_indices, rhs_indices, metric: str = "g2") -> None:
        from pyspark_validator.checks.fd import fd_check

        if metric not in self._METRICS:
            raise ValueError(f"unknown AFD metric: {metric}")
        self._metric = metric
        self._row = (
            fd_check(self._df, self._cols(lhs_indices), self._cols(rhs_indices))
            .afd_measures()
            .collect()[0]
        )

    def get_result(self) -> float:
        return float(self._row[self._METRICS[self._metric]])


class DynamicFdVerifier(_Verifier):
    """DynamicFDVerifier analog (bind_dynamic_fd_verification.cpp: fd_holds,
    get_error, get_num_error_clusters, get_highlights). load_data seeds the
    count-state log (dynamic_position_list_index.h:32-34 cluster-map
    semantics); each execute() appends an insert/delete/update delta batch and
    the getters read the rolled-up state without rescanning the base table.
    Updates are (old_rows, new_rows) -- the reference's row-id updates reduce
    to delete-old + insert-new at the value level."""

    def __init__(self, spark: SparkSession | None = None, state_path: str | None = None):
        super().__init__(spark)
        self._state_path = state_path
        self._inc = None

    def load_data(self, table, lhs_indices=None, rhs_indices=None) -> None:
        import tempfile

        from pyspark_validator.incremental import IncrementalFD

        self._df = self._resolve(table)
        if lhs_indices is None or rhs_indices is None:
            raise ValueError("DynamicFdVerifier.load_data needs lhs_indices and rhs_indices")
        path = self._state_path or tempfile.mkdtemp(prefix="dynfd_state_")
        spark = self._spark or SparkSession.active()
        self._inc = IncrementalFD(
            spark, path, self._cols(lhs_indices), self._cols(rhs_indices)
        )
        self._inc.initialize(self._df)

    def _resolve_rows(self, rows):
        if rows is None:
            return None
        return self._resolve(
            pd.DataFrame(rows, columns=self._df.columns)
            if isinstance(rows, list)
            else rows
        )

    def execute(self, insert=None, delete=None, update=None) -> None:
        """Fold one delta batch. insert/delete: row lists or DataFrames with
        the base schema; update: (old_rows, new_rows)."""
        if self._inc is None:
            raise RuntimeError("call load_data first")
        ins = self._resolve_rows(insert)
        dels = self._resolve_rows(delete)
        if update is not None:
            old, new = update
            old_df, new_df = self._resolve_rows(old), self._resolve_rows(new)
            dels = old_df if dels is None else dels.unionByName(old_df)
            ins = new_df if ins is None else ins.unionByName(new_df)
        if ins is not None or dels is not None:
            self._inc.apply_delta(inserts=ins, deletes=dels)
        from pyspark.sql import functions as F

        self._rollup = (
            self._inc.verdicts()
            .agg(
                F.sum("n_rows").alias("n"),
                F.sum("n_error_clusters").alias("clusters"),
                F.sum("n_error_rows").alias("rows"),
                F.sum("conflict_pairs").alias("cp"),
            )
            .collect()[0]
        )

    def fd_holds(self) -> bool:
        return int(self._rollup.clusters) == 0

    def get_error(self) -> float:
        n = int(self._rollup.n)
        return (int(self._rollup.cp) / (n * (n - 1))) if n > 1 else 0.0

    def get_num_error_clusters(self) -> int:
        return int(self._rollup.clusters)

    def get_num_error_rows(self) -> int:
        return int(self._rollup.rows)

    def get_highlights(self, cap: int = 100) -> list[dict]:
        """Violating X clusters from state: lhs values + cluster_size +
        num_distinct_rhs_values, largest first, capped."""
        from pyspark.sql import functions as F

        s = self._inc.counts()
        x_level = s.groupBy(*self._inc.lhs).agg(
            F.sum("ycnt").alias("cluster_size"),
            F.count(F.lit(1)).alias("num_distinct_rhs_values"),
        )
        rows = (
            x_level.filter(F.col("num_distinct_rhs_values") > 1)
            .orderBy(F.desc("cluster_size"), *[F.asc_nulls_first(c) for c in self._inc.lhs])
            .limit(cap)
            .collect()
        )
        return [
            {
                "lhs_values": [r[c] for c in self._inc.lhs],
                "cluster_size": int(r["cluster_size"]),
                "num_distinct_rhs_values": int(r["num_distinct_rhs_values"]),
            }
            for r in rows
        ]


# ---------------------------------------------------------------------------
# Mining algorithm facades (discovery tier bonus): bind_fd.cpp:75-82
# (Tane/Pyro get_fds), bind_ucc.cpp:66-70 (HyUCC get_uccs),
# bind_ind.cpp:139-146 (Spider/Mind get_inds). Depth is |LHS| / arity <= 2
# (discovery.py lattice); the full-depth search is out of the validation
# tier's scope.
# ---------------------------------------------------------------------------


class FD:
    """FD result object (bind_fd.cpp:25-49 getter names)."""

    def __init__(self, lhs_indices, rhs_index, columns):
        self.lhs_indices = list(lhs_indices)
        self.rhs_index = int(rhs_index)
        self._columns = list(columns)

    def to_name_tuple(self):
        return ([self._columns[i] for i in self.lhs_indices],
                self._columns[self.rhs_index])

    def to_index_tuple(self):
        return (tuple(self.lhs_indices), self.rhs_index)

    def to_long_string(self):
        """FD::ToLongString (fd.cpp:32-38): Vertical::ToString -> rhs name,
        names space-separated inside the brackets."""
        lhs, rhs = self.to_name_tuple()
        return f"[{' '.join(lhs)}] -> {rhs}"

    def to_short_string(self):
        """FD::ToShortString (fd.cpp:21-30): "[ 0 1 ] -> 2"."""
        inner = "".join(f"{i} " for i in self.lhs_indices)
        return f"[ {inner}] -> {self.rhs_index}"

    def __str__(self):
        return self.to_long_string()  # bind_fd.cpp:36 __str__ = ToLongString

    def __eq__(self, other):
        return isinstance(other, FD) and self.to_index_tuple() == other.to_index_tuple()

    def __hash__(self):
        return hash(self.to_index_tuple())


class UCC:
    """UCC result object (bind_ucc.cpp:55-61: ``indices`` + index string)."""

    def __init__(self, indices, columns):
        self.indices = list(indices)
        self._columns = list(columns)

    def to_short_string(self):
        return f"[{' '.join(str(i) for i in self.indices)}]"

    def to_long_string(self):
        """UCC::ToString == Vertical::ToString: names space-separated."""
        return f"[{' '.join(self._columns[i] for i in self.indices)}]"

    def __str__(self):
        return self.to_short_string()  # bind_ucc.cpp:56 __str__ = indices

    def __eq__(self, other):
        return isinstance(other, UCC) and self.indices == other.indices

    def __hash__(self):
        return hash(tuple(self.indices))


class IND:
    """IND result object (bind_ind.cpp:110-115: get_lhs/get_rhs/get_error);
    lhs/rhs are 'table.column' attribute names (', '-joined when n-ary)."""

    def __init__(self, lhs, rhs, error=0.0):
        self._lhs, self._rhs, self._error = lhs, rhs, float(error)

    def get_lhs(self):
        return self._lhs

    def get_rhs(self):
        return self._rhs

    def get_error(self):
        return self._error

    def to_short_string(self):
        return f"{self._lhs} -> {self._rhs}"

    @staticmethod
    def _side_long(side: str) -> str:
        parts = [p.strip() for p in side.split(",")]
        tables, cols = [], []
        for p in parts:
            t, _, c = p.rpartition(".")
            tables.append(t)
            cols.append(c)
        return f"({tables[0]}, [{', '.join(cols)}])"

    def to_long_string(self):
        """IND::ToLongString (ind.cpp:34-55): "(table, [col, ...]) ->
        (table, [col, ...])" plus the error-threshold suffix when
        approximate."""
        s = f"{self._side_long(self._lhs)} -> {self._side_long(self._rhs)}"
        if self._error != 0.0:
            s += f" with error threshold = {self._error:g}"
        return s

    def __str__(self):
        return self.to_short_string()


class Tane(_Verifier):
    """TANE analog (bind_fd.cpp:75-82; tane.cpp): minimal FDs with
    |LHS| <= max_lhs (arbitrary depth, one batched grouping-sets job per
    lattice level). error == 0 mines exact FDs; error > 0 replays the
    reference's own approximate walk under afd_error_measure in
    {'g1', 'pdep', 'tau', 'mu_plus', 'rho'} (tane.cpp:13-50, hash-golden
    vs test_tane_afd_measures.cpp). Empty-LHS FDs (constant columns)
    are reported with lhs_indices == []."""

    def execute(self, error: float = 0.0, error_measure: str = "g1",
                max_lhs: int = 2,
                afd_error_measure: str | None = None) -> None:
        from pyspark_validator.discovery import mine_fds
        from pyspark_validator.pfd_discovery import mine_afds_tane

        assert self._df is not None, "call load_data first"
        if afd_error_measure is not None:  # the pybind option name
            error_measure = afd_error_measure
        cols = self._df.columns
        if error <= 0.0:
            mined = mine_fds(self._df, cols, max_lhs=max_lhs)
        else:
            # the reference's own walk, incl. afd_error_measure
            # (tane.cpp:13-50; hash goldens test_tane_afd_measures.cpp)
            mined = mine_afds_tane(self._df, cols, max_error=error,
                                   error_measure=error_measure,
                                   max_lhs=max_lhs)
        ix = {c: i for i, c in enumerate(cols)}
        self._fds = [FD([ix[c] for c in lhs], ix[rhs], cols) for lhs, rhs in mined]

    def get_fds(self) -> list:
        return self._fds


class Pyro(Tane):
    """Pyro analog (bind_fd.cpp:75-82): same AFD-under-error surface at this
    facade's depth; Pyro's sampling search strategy is an implementation
    detail of the single-node engine."""


class HyFD(Tane):
    """HyFD analog (bind_fd.cpp:78-82): exact minimal FDs. HyFD's
    sampling+induction hybrid search is a single-node strategy over the same
    result set the lattice walk defines; call with error=0.0."""


class DFD(Tane):
    """DFD analog (bind_fd.cpp:78-82): random-walk lattice traversal,
    identical minimal-FD output."""


class FDep(Tane):
    """FDep analog (bind_fd.cpp:78-82): negative-cover inversion,
    identical minimal-FD output."""


class FastFDs(Tane):
    """FastFDs analog (bind_fd.cpp:78-82): difference-set covers,
    identical minimal-FD output."""


class Depminer(Tane):
    """Depminer analog (bind_fd.cpp:78-82): agree-set based,
    identical minimal-FD output."""


class FdMine(Tane):
    """FdMine analog (bind_fd.cpp:78-82). NOTE: the reference's FdMine is
    known to emit non-minimal dependencies via equivalence pruning; this
    facade returns the canonical minimal set (the other ten miners' output),
    which is FdMine's documented intent."""


class FUN(Tane):
    """FUN analog (bind_fd.cpp:78-82): free-set counting,
    identical minimal-FD output."""


class Aid(Tane):
    """AidFD analog (bind_fd.cpp:78-82): the reference's Aid is an
    approximate (incomplete-by-design) miner; this facade returns the exact
    minimal set, a sound superset of any Aid run."""


class EulerFD(Tane):
    """EulerFD analog (bind_fd.cpp:78-82): randomized Euler-cycle negative
    cover; exact minimal-FD output."""


class PFDTane(_Verifier):
    """PFDTane analog (bind_fd.cpp:84-90; pfdtane.cpp): minimal
    probabilistic FDs under the per-tuple / per-value error measure
    (PfdErrorMeasure, enums.h:8). ``error`` doubles as the UCC key-pruning
    budget, matching the reference's single shared error option
    (tane_common.cpp:130)."""

    def execute(self, error: float = 0.01, error_measure: str = "per_tuple",
                max_lhs: int | None = None) -> None:
        from pyspark_validator.pfd_discovery import mine_pfds

        assert self._df is not None, "call load_data first"
        cols = self._df.columns
        mined = mine_pfds(self._df, cols, max_error=error,
                          error_measure=error_measure, max_lhs=max_lhs)
        ix = {c: i for i, c in enumerate(cols)}
        self._fds = [FD([ix[c] for c in lhs], ix[rhs], cols) for lhs, rhs in mined]

    def get_fds(self) -> list:
        return self._fds


class HyUCC(_Verifier):
    """HyUCC analog (bind_ucc.cpp:66-70): minimal UCCs of arity <=
    max_arity (arbitrary depth, level-wise lattice walk)."""

    def execute(self, max_arity: int = 2) -> None:
        from pyspark_validator.discovery import mine_uccs

        assert self._df is not None, "call load_data first"
        cols = self._df.columns
        ix = {c: i for i, c in enumerate(cols)}
        found = [
            sorted(ix[c] for c in u)
            for u in mine_uccs(self._df, cols, max_arity=max_arity)
        ]
        self._uccs = [
            UCC(u, cols) for u in sorted(found, key=lambda u: (len(u), u))
        ]

    def get_uccs(self) -> list:
        return self._uccs


class HyMD(_Verifier):
    """HyMD analog (bind_md.cpp:292; md/hymd/hymd.cpp): matching-dependency
    discovery. Defaults mirror the reference (Levenshtein(i,i,0.7) per
    column, single-table min_support = n+1); get_mds() returns MDRule
    objects in MdLess order."""

    def execute(self, column_matches=None, min_support: int | None = None,
                prune_nondisjoint: bool = True,
                max_cardinality: int | None = None) -> None:
        from pyspark_validator.md_discovery import mine_mds

        assert self._df is not None, "call load_data first"
        self._mds = mine_mds(
            self._df,
            column_matches=column_matches,
            min_support=min_support,
            prune_nondisjoint=prune_nondisjoint,
            max_cardinality=max_cardinality,
        )

    def get_mds(self) -> list:
        return self._mds


class FastADC(_Verifier):
    """FastADC analog (bind_fastadc.cpp; dc/FastADC/fastadc.cpp):
    approximate denial-constraint discovery. get_dcs() returns DCResult
    objects whose str() is the reference's ¬{ p1 ∧ ... } form."""

    def execute(self, evidence_threshold: float = 0.01,
                allow_cross_columns: bool = True,
                minimum_shared_value: float = 0.3,
                comparable_threshold: float = 0.1) -> None:
        from pyspark_validator.dc_discovery import mine_dcs

        assert self._df is not None, "call load_data first"
        self._dcs = mine_dcs(
            self._df,
            evidence_threshold=evidence_threshold,
            allow_cross_columns=allow_cross_columns,
            minimum_shared_value=minimum_shared_value,
            comparable_threshold=comparable_threshold,
        )

    def get_dcs(self) -> list:
        return self._dcs


class DES(_Verifier):
    """DES analog (bind_nar.cpp:270; nar/des/des.cpp): differential-
    evolution NAR mining with the reference's seeded mt19937 trajectory.
    get_nars() returns NarRule objects (fitness/support/confidence plus
    ante/cons maps), fitness-descending."""

    def execute(self, minsup: float = 0.0, minconf: float = 0.0,
                population_size: int = 100, max_fitness_evaluations: int = 100,
                crossover_probability: float = 0.9, differential_scale: float = 0.5,
                seed: int = 2) -> None:
        from pyspark_validator.nar_discovery import mine_nars

        assert self._df is not None, "call load_data first"
        self._nars = mine_nars(
            self._df,
            minsup=minsup,
            minconf=minconf,
            population_size=population_size,
            max_fitness_evaluations=max_fitness_evaluations,
            crossover_probability=crossover_probability,
            differential_scale=differential_scale,
            seed=seed,
        )

    def get_nars(self) -> list:
        return self._nars


class Split(_Verifier):
    """Split analog (bind_split.cpp:74; dd/split/split.cpp): differential
    dependency discovery. ``execute`` takes an optional difference table
    (same column count, '[a;b]' string cells) mirroring the reference's
    difference_table option; get_dds() returns DDResult objects whose
    left/right are (column, lower, upper) constraint lists."""

    def execute(self, difference_table=None, num_dfs_per_column: int = 5) -> None:
        from pyspark_validator.dd_discovery import mine_dds

        assert self._df is not None, "call load_data first"
        dt = self._resolve(difference_table) if difference_table is not None else None
        self._dds = mine_dds(
            self._df, difference_table=dt, num_dfs_per_column=num_dfs_per_column
        )

    def get_dds(self) -> list:
        return self._dds


class HPIValid(HyUCC):
    """HPIValid analog (bind_ucc.cpp:67-70): hitting-set enumeration over
    partition intersections; identical minimal-UCC output."""


class PyroUCC(HyUCC):
    """PyroUCC analog (bind_ucc.cpp:67-70): Pyro's search specialised to
    UCCs; identical minimal-UCC output at error 0, minimal AUCCs under the
    pair-violation error sum c*(c-1)/(n*(n-1)) otherwise (the reference's
    mining_aucc.py surface; snapshot goldens
    tests/test_aucc_mining_golden.py)."""

    def execute(self, max_arity: int = 2, error: float = 0.0) -> None:
        from pyspark_validator.discovery import mine_uccs

        assert self._df is not None, "call load_data first"
        cols = self._df.columns
        ix = {c: i for i, c in enumerate(cols)}
        found = [
            sorted(ix[c] for c in u)
            for u in mine_uccs(
                self._df, cols, max_arity=max_arity, max_error=error
            )
        ]
        self._uccs = [
            UCC(u, cols) for u in sorted(found, key=lambda u: (len(u), u))
        ]


class Spider(_Verifier):
    """Spider analog (bind_ind.cpp:139-146; spider.cpp:49-80): exact unary
    INDs across a set of tables. ``load_data`` takes {name: table}.

    ``is_null_equal_null`` selects the reference's null semantics (pinned by
    its consistent-hash suite, see discovery.mine_unary_inds_exact): False =
    null-free LHS required, True = null is one value. None keeps the engine's
    historical SQL view (nulls ignored, '' a value)."""

    def load_data(self, tables: dict) -> None:
        self._tables = {name: self._resolve(t) for name, t in tables.items()}

    def execute(self, is_null_equal_null: bool | None = None) -> None:
        from pyspark_validator.discovery import (
            mine_unary_inds,
            mine_unary_inds_exact,
        )

        if is_null_equal_null is None:
            pairs = mine_unary_inds(self._tables)
        else:
            pairs = mine_unary_inds_exact(
                self._tables, is_null_equal_null=is_null_equal_null
            )
        self._inds = [IND(a, b, 0.0) for a, b in pairs]

    def get_inds(self) -> list:
        return self._inds


class Faida(Spider):
    """Faida analog (bind_ind.cpp:139-146; faida/inclusion_testing/
    hll_data.h:28-37): APPROXIMATE IND discovery from per-column HLL
    sketches -- dep subseteq ref iff every dep register <= the ref
    register.  One sketch-building scan per table covers all its columns
    (sketches.hll_column_sketches); the quadratic inclusion tests run on
    the collected 2^p-byte register files, never on data.  Like the
    reference, false positives are possible at sketch accuracy (raise
    ``p``); proven non-inclusions are exact.  ``max_arity`` >= 2 runs
    Mind's full GenNext lattice with each candidate verified by one
    combined-tuple sketch pair (the FAIDA n-ary path; goldens
    test_faida.cpp EqualityTest via tests/test_nary_ind_reference_golden)."""

    def execute(self, max_arity: int = 3, p: int = 12) -> None:
        from pyspark_validator.discovery import mine_nary_inds
        from pyspark_validator.sketches import hll_column_sketches, hll_sketch

        sketches = {}
        for t, df in self._tables.items():
            for c, h in hll_column_sketches(df, p=p).items():
                sketches[(t, c)] = h
        unary = sorted(
            (f"{t}.{c}", f"{rt}.{rc}")
            for (t, c) in sketches
            for (rt, rc) in sketches
            if (t, c) != (rt, rc)
            and sketches[(rt, rc)].register_contains(sketches[(t, c)])
        )

        def sketch_verify(cand):
            (ta, lcols), (tb, rcols) = cand
            dep = hll_sketch(self._tables[ta], list(lcols), p=p)
            ref = hll_sketch(self._tables[tb], list(rcols), p=p)
            return ref.register_contains(dep)

        res = mine_nary_inds(
            self._tables, max_arity=max_arity, unary=unary,
            verify_fn=sketch_verify,
        )
        self._inds = [
            IND(
                ", ".join(f"{t}.{c}" for c in lcols),
                ", ".join(f"{rt}.{c}" for c in rcols),
                0.0,
            )
            for (t, lcols), (rt, rcols) in res
        ]


class Mind(Spider):
    """Mind analog (mind.cpp:167-261): approximate unary INDs; ``error`` is
    the reference's max_ind_error (fraction of the dependent column's
    distinct values missing from the referenced column). ``max_arity=2``
    adds the level-2 apriori step (MineNaryINDs): exact binary INDs built
    from the error-0 unary level, each verified by one anti-join."""

    def execute(self, error: float = 0.3, max_arity: int = 1) -> None:
        from pyspark_validator.discovery import (
            mine_ainds,
            mine_binary_inds,
            mine_nary_inds,
        )

        ainds = mine_ainds(self._tables, max_error=error)
        self._inds = [IND(a, b, e) for a, b, e in ainds]
        if max_arity == 2:
            exact_unary = [(a, b) for a, b, e in ainds if e == 0.0]
            self._inds += [
                IND(", ".join(lhs), ", ".join(rhs), 0.0)
                for lhs, rhs in mine_binary_inds(self._tables, unary=exact_unary)
            ]
        elif max_arity >= 3:
            # full GenNext lattice (mind.cpp:69-144); with error > 0 the
            # lattice grows from approximate parents too and candidates
            # pass on the g3' distinct fraction (Mind::TestCandidate)
            if error > 0.0:
                nary = mine_nary_inds(
                    self._tables, max_arity=max_arity, max_error=error
                )
                self._inds += [
                    IND(
                        ", ".join(f"{t}.{c}" for c in lcols),
                        ", ".join(f"{rt}.{c}" for c in rcols),
                        e,
                    )
                    for (t, lcols), (rt, rcols), e in nary
                    if len(lcols) >= 2
                ]
            else:
                nary = mine_nary_inds(
                    self._tables,
                    max_arity=max_arity,
                    unary=[(a, b) for a, b, e in ainds if e == 0.0],
                )
                self._inds += [
                    IND(
                        ", ".join(f"{t}.{c}" for c in lcols),
                        ", ".join(f"{rt}.{c}" for c in rcols),
                        0.0,
                    )
                    for (t, lcols), (rt, rcols) in nary
                    if len(lcols) >= 2
                ]


class FDFirst(_Verifier):
    """FDFirstAlgorithm analog (cfd/fd_first_algorithm.cpp; options
    cfd_minimum_support / cfd_minimum_confidence / cfd_maximum_lhs): mines
    conditional FDs over attribute/constant patterns. ``get_cfds`` returns
    the reference's display strings ("(a, b=x) => c[=v]",
    cfd_output_util.cpp:36-50); ``get_rules`` the structured CFDRule list."""

    def execute(
        self, minsup: int = 1, minconf: float = 1.0, max_lhs: int = 2
    ) -> None:
        from pyspark_validator.cfd_discovery import mine_cfds

        assert self._df is not None, "call load_data first"
        self._cfds = mine_cfds(
            self._df, min_supp=minsup, min_conf=minconf, max_lhs=max_lhs
        )

    def get_rules(self) -> list:
        return self._cfds

    def get_cfds(self) -> list[str]:
        return [r.to_string() for r in self._cfds]


class Fastod(_Verifier):
    """Fastod analog (bind_od.cpp:126-130; od/fastod/fastod.h:191-197):
    set-based canonical OD discovery. Getters return the reference's display
    strings with 1-based column indices (canonical_od.cpp:34-69,
    attribute_set.cpp:7-23): ``{1,2} : 3<= ~ 4<=`` (asc),
    ``{1,2} : 3>= ~ 4<=`` (desc), ``{1} : [] -> 2<=`` (simple)."""

    def execute(self, error: float = 0.0, max_level: int | None = None) -> None:
        from pyspark_validator.od_discovery import mine_set_ods

        assert self._df is not None, "call load_data first"
        self._res = mine_set_ods(self._df, error=error, max_level=max_level)

    @staticmethod
    def _ctx(ctx) -> str:
        return "{" + ",".join(str(i + 1) for i in sorted(ctx)) + "}"

    def get_asc_ods(self) -> list[str]:
        return sorted(
            f"{self._ctx(c)} : {a + 1}<= ~ {b + 1}<=" for c, a, b in self._res.asc
        )

    def get_desc_ods(self) -> list[str]:
        return sorted(
            f"{self._ctx(c)} : {a + 1}>= ~ {b + 1}<=" for c, a, b in self._res.desc
        )

    def get_simple_ods(self) -> list[str]:
        return sorted(
            f"{self._ctx(c)} : [] -> {r + 1}<=" for c, r in self._res.simple
        )


class ListOD:
    """od.ListOD analog (bind_od.cpp:109-124): 0-based lhs/rhs index lists."""

    def __init__(self, lhs: list[int], rhs: list[int]):
        self.lhs = lhs
        self.rhs = rhs

    def __repr__(self) -> str:
        return f"ListOD({self.lhs}, {self.rhs})"

    def __eq__(self, other) -> bool:
        return (self.lhs, self.rhs) == (other.lhs, other.rhs)

    def __hash__(self) -> int:
        return hash((tuple(self.lhs), tuple(self.rhs)))


class Order(_Verifier):
    """Order analog (bind_od.cpp:131-141; od/order/order.h:49-51): list-based
    lexicographic OD discovery. ``get_list_ods()`` flattens GetValidODs into
    ListOD objects exactly like the binding."""

    def execute(self, max_combos: int = 100_000) -> None:
        from pyspark_validator.order_discovery import mine_list_ods

        assert self._df is not None, "call load_data first"
        self._res = mine_list_ods(self._df, max_combos=max_combos)

    def get_list_ods(self) -> list[ListOD]:
        return [
            ListOD(list(lhs), list(rhs)) for lhs, rhs in self._res.list_ods()
        ]


class CindCondition:
    """cind.Condition analog (bind_cind.cpp:38-63): data() is the
    per-conditional-attribute value vector with '-' for free positions."""

    def __init__(self, inner):
        self._c = inner

    def data(self) -> list[str]:
        return list(self._c.values)

    def validity(self) -> float:
        return float(self._c.validity)

    def completeness(self) -> float:
        return float(self._c.completeness)

    def __str__(self) -> str:
        vals = "".join(f'"{v}", ' for v in self._c.values)
        return f"({vals}validity = {self._c.validity:g}, completeness = {self._c.completeness:g})"


class CindCIND:
    """cind.CIND analog (bind_cind.cpp:65-80)."""

    def __init__(self, inner):
        self._r = inner

    def conditions_number(self) -> int:
        return self._r.conditions_number()

    def get_conditions(self) -> list[CindCondition]:
        return [CindCondition(c) for c in self._r.conditions]

    def get_condition_attributes(self) -> list[str]:
        return list(self._r.conditional_attributes)

    def get_ind_string(self) -> str:
        return (
            f"({self._r.lhs[0]}.{self._r.lhs[1]}) -> "
            f"({self._r.rhs[0]}.{self._r.rhs[1]})"
        )


class CindAlgorithm(_Verifier):
    """cind.CindAlgorithm analog (bind_cind.cpp:83; cind_algorithm.h:15-50):
    Spider AINDs + Cinderella/PliCind condition mining. ``load_data`` takes
    {name: table} in the reference's CSVConfigs order (it determines the
    attribute ids and so the result order)."""

    def load_data(self, tables: dict) -> None:
        self._tables = {name: self._resolve(t) for name, t in tables.items()}

    def execute(
        self,
        error: float = 0.5,
        validity: float = 0.0,
        completeness: float = 0.0,
        condition_type: str = "group",
        algo_type: str = "pli_cind",
    ) -> None:
        from pyspark_validator.cind_discovery import mine_cinds

        self._cinds = mine_cinds(
            self._tables,
            max_error=error,
            min_validity=validity,
            min_completeness=completeness,
            condition_type=condition_type,
            algo=algo_type,
        )

    def get_cinds(self) -> list[CindCIND]:
        return [CindCIND(r) for r in self._cinds]


class ARStrings:
    """ARStrings result object (ar/ar.h:52-104): named antecedent/consequent
    with confidence/support and the reference's display string (std::to_string
    prints 6 fixed decimals)."""

    def __init__(self, left, right, confidence, support):
        self.left = list(left)
        self.right = list(right)
        self.confidence = float(confidence)
        self.support = float(support)

    def __str__(self):
        return (
            f"conf: {self.confidence:.6f}\tsup: {self.support:.6f}"
            f"\t{{{', '.join(self.left)}}} -> {{{', '.join(self.right)}}}"
        )


class ArIDs:
    """ArIDs result object (ar/ar.h:30-50): item ids into the item universe."""

    def __init__(self, left, right, confidence, support):
        self.left = list(left)
        self.right = list(right)
        self.confidence = float(confidence)
        self.support = float(support)


class Apriori(_Verifier):
    """ar.algorithms.Apriori analog (bind_ar.cpp:76-82: get_ars, get_ar_ids,
    get_itemnames). ``load_data`` accepts the reference's two transactional
    shapes: ``input_format='singular'`` (tid column + item column) or
    ``'tabular'`` (each row lists one transaction's items). The item universe
    is first-occurrence ordered like TransactionalData::GetItemUniverse."""

    def load_data(
        self,
        table,
        input_format: str = "singular",
        tid_column_index: int = 0,
        item_column_index: int = 1,
    ) -> None:
        import pandas as pd

        if input_format not in ("singular", "tabular"):
            raise ValueError("input_format must be 'singular' or 'tabular'")
        if not isinstance(table, pd.DataFrame):
            table = self._resolve(table).toPandas()
        tx: list[tuple] = []
        universe: list[str] = []
        seen: set[str] = set()
        if input_format == "singular":
            for _, row in table.iterrows():
                tid, item = row.iloc[tid_column_index], row.iloc[item_column_index]
                if pd.isna(item):
                    continue
                item = str(item)
                tx.append((str(tid), item))
                if item not in seen:
                    seen.add(item)
                    universe.append(item)
        else:
            for rid, row in table.iterrows():
                for v in row:
                    if pd.isna(v) or str(v).strip() == "":
                        continue
                    item = str(v)
                    tx.append((str(rid), item))
                    if item not in seen:
                        seen.add(item)
                        universe.append(item)
        self._universe = universe
        spark = self._spark or SparkSession.active()
        self._df = spark.createDataFrame(tx, ["tid", "item"])

    def execute(self, minsup: float = 0.0, minconf: float = 0.0) -> None:
        from pyspark_validator.discovery import mine_ars

        # minsup 0 (the reference default) = every co-occurring itemset; the
        # distributed miner needs a positive frequency floor, and any itemset
        # that appears at all has support >= 1/n_transactions
        n_tx = self._df.select("tid").distinct().count()
        floor = max(float(minsup), 1.0 / max(n_tx, 1) / 2)
        self._rules = mine_ars(self._df, minsup=floor, minconf=float(minconf))

    def get_itemnames(self) -> list[str]:
        return list(self._universe)

    def get_ars(self) -> list[ARStrings]:
        return [ARStrings(l, r, c, s) for l, r, s, c in self._rules]

    def get_ar_ids(self) -> list[ArIDs]:
        ix = {name: i for i, name in enumerate(self._universe)}
        return [
            ArIDs([ix[x] for x in l], [ix[x] for x in r], c, s)
            for l, r, s, c in self._rules
        ]


class Correlation:
    """Correlation result object (fd/sfd/correlation.h): named column pair
    with the pybind's CamelCase getters (bind_sfd.cpp:48-54)."""

    def __init__(self, lhs_name, rhs_name, lhs_index, rhs_index):
        self._ln, self._rn = lhs_name, rhs_name
        self._li, self._ri = int(lhs_index), int(rhs_index)

    def GetLhsIndex(self):  # noqa: N802 - pybind name
        return self._li

    def GetRhsIndex(self):  # noqa: N802
        return self._ri

    def GetLhsName(self):  # noqa: N802
        return self._ln

    def GetRhsName(self):  # noqa: N802
        return self._rn

    def to_string(self):
        return f"{self._ln} ~ {self._rn}"

    def __str__(self):
        return self.to_string()


class Cords(_Verifier):
    """fd.algorithms.Cords analog (bind_sfd.cpp:78-80; cords.cpp
    ExecuteInternal:185-210): SFD pairs register as FDs (get_fds), pairs
    passing the chi-square check but NOT the SFD rule register as
    Correlations (get_correlations); ``only_sfd=True`` skips the correlation
    check entirely, so get_correlations comes back empty."""

    def execute(self, only_sfd: bool = False, **params) -> None:
        from pyspark_validator.discovery import mine_sfds

        self._res = mine_sfds(self._df, **params)
        self._only_sfd = bool(only_sfd)

    def get_correlations(self) -> list[Correlation]:
        if self._only_sfd:
            return []
        cols = list(self._df.columns)
        return [
            Correlation(a, b, cols.index(a), cols.index(b))
            for a, b in self._res["correlations"]
        ]

    def get_fds(self) -> list[FD]:
        cols = list(self._df.columns)
        return [
            FD([cols.index(a)], cols.index(b), cols)
            for a, b in self._res["sfds"]
        ]


# ---------------------------------------------------------------------------
# Graph / sequence tier facades (bind_gfd*.cpp, bind_gdd_verification.cpp,
# bind_gspan.cpp, bind_fem.cpp)
# ---------------------------------------------------------------------------


class _GfdHandler:
    """gfd_verification.{GfdValid, EGfdValid, NaiveGfdValid} analog
    (bind_gfd_verification.cpp: BindPrimitive over the three validators with
    the shared get_gfds getter). load_data takes the DOT graph path (or a
    parsed GraphData) and a list of GFD file paths / Gfd objects, exactly as
    the reference's kGraphData/kGfdData options."""

    def __init__(self, spark: SparkSession | None = None):
        self._spark = spark
        self._gfds = []
        self._frames = None

    def load_data(self, graph=None, gfd=None, **_kw) -> None:
        from pyspark_validator.graphs import (
            Gfd,
            GraphData,
            graph_frames,
            read_dot,
            read_gfd,
        )

        spark = self._spark or SparkSession.active()
        g = graph if isinstance(graph, GraphData) else read_dot(str(graph))
        self._frames = graph_frames(spark, g)
        self._gfds = [
            p if isinstance(p, Gfd) else read_gfd(str(p)) for p in (gfd or [])
        ]

    def execute(self, **_kw) -> None:
        from pyspark_validator.graphs import satisfied_gfds

        vertices, edges = self._frames
        self._result = satisfied_gfds(vertices, edges, self._gfds)

    def get_gfds(self):
        return self._result


class GfdValid(_GfdHandler):
    """gfd_validator.cpp GfdValidator (candidate-partitioned)."""


class EGfdValid(_GfdHandler):
    """egfd_validator.cpp EGfdValidator (same verdict semantics)."""


class NaiveGfdValid(_GfdHandler):
    """naivegfd_validator.cpp NaiveGfdValidator. Implements the canonical
    GfdValidator literal semantics; the reference's naive variant resolves
    the second literal token through the FIRST token's vertex
    (naivegfd_validator.cpp:56-66) -- a slip all three validators mask on
    every shipped fixture."""


class GfdMiner:
    """gfd_mining.GfdMiner analog (bind_gfd.cpp: get_gfds; options kGraphData
    / kGfdK / kGfdSigma)."""

    def __init__(self, spark: SparkSession | None = None):
        self._spark = spark

    def load_data(self, graph=None, gfd_k: int = 2, gfd_sigma: int = 1, **_kw):
        from pyspark_validator.graphs import GraphData, read_dot

        self._graph = (
            graph if isinstance(graph, GraphData) else read_dot(str(graph))
        )
        self._k = int(gfd_k)
        self._sigma = int(gfd_sigma)

    def execute(self, **_kw) -> None:
        from pyspark_validator.graphs import mine_gfds

        self._result = mine_gfds(self._graph, self._k, self._sigma)

    def get_gfds(self):
        return self._result


class NaiveGddValidator:
    """gdd.algorithms.NaiveGddValidator analog (bind_gdd_verification.cpp:
    get_result = the GDDs that hold, get_counterexamples = (gdd_index,
    match) pairs)."""

    def __init__(self, spark: SparkSession | None = None):
        self._spark = spark

    def load_data(self, graph=None, gdd=None, **_kw) -> None:
        from pyspark_validator.graphs import GraphData, graph_frames, read_dot

        spark = self._spark or SparkSession.active()
        g = graph if isinstance(graph, GraphData) else read_dot(str(graph))
        self._frames = graph_frames(spark, g)
        self._gdds = list(gdd or [])

    def execute(self, **_kw) -> None:
        from pyspark_validator.graphs import gdd_check, gdd_violations

        vertices, edges = self._frames
        verdicts = gdd_check(vertices, edges, self._gdds)
        self._result = [g for g, ok in verdicts if ok]
        self._counterexamples = []
        for i, (g, ok) in enumerate(verdicts):
            if not ok:
                row = gdd_violations(vertices, edges, g).take(1)[0].asDict()
                self._counterexamples.append((i, row))

    def get_result(self):
        return self._result

    def get_counterexamples(self):
        return self._counterexamples


class GSpan:
    """gspan.GSpan analog (bind_gspan.cpp; options kGraphDatabase /
    kGSpanMinimumSupport / kOutputSingleVertices / kMaxNumberOfEdges)."""

    def __init__(self, spark: SparkSession | None = None):
        self._spark = spark

    def load_data(self, graph_database=None, **_kw) -> None:
        from pyspark_validator.graphs.io import read_gspan

        self._graphs = (
            graph_database
            if isinstance(graph_database, list)
            else read_gspan(str(graph_database))
        )

    def execute(
        self,
        minsup: float = 0.5,
        output_single_vertices: bool = True,
        max_number_of_edges: int | None = None,
        **_kw,
    ) -> None:
        from pyspark_validator.graphs import mine_gspan

        spark = self._spark or SparkSession.active()
        self._result = mine_gspan(
            spark,
            self._graphs,
            minsup,
            output_single_vertices=output_single_vertices,
            max_edges=max_number_of_edges,
        )

    def get_frequent_subgraphs(self):
        return self._result


class MaxFEM:
    """fem.MaxFEM analog (bind_fem.cpp: get_max_frequent_episodes; options
    kSequence / kMinimumSupport / kWindowSize)."""

    def __init__(self, spark: SparkSession | None = None):
        self._spark = spark

    def load_data(self, sequence=None, **_kw) -> None:
        from pyspark_validator.graphs.io import read_sequence

        self._records = (
            sequence
            if isinstance(sequence, list)
            else read_sequence(str(sequence))
        )

    def execute(
        self, minimum_support: int = 1, window_size: int = 5, **_kw
    ) -> None:
        from pyspark_validator.graphs import mine_max_episodes

        self._result = mine_max_episodes(
            self._records, int(minimum_support), int(window_size)
        )

    def get_max_frequent_episodes(self):
        return self._result
