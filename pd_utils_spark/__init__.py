"""pd_utils_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of nickderobertis/pd-utils.

Every operator is a lazy ``DataFrame -> DataFrame`` transformation built
on the PySpark DataFrame API; Catalyst/Tungsten plan the physical
execution. See SURVEY.md for the operator inventory and the reference
file:line each operator mirrors.
"""

from pd_utils_spark.session import get_spark
from pd_utils_spark.operators.merge import (
    apply_func_to_unique_and_merge,
    fuzzy_join,
    groupby_index,
    groupby_merge,
    left_merge_latest,
    left_merge_nearest,
    left_merge_soonest,
    range_join,
)
from pd_utils_spark.operators.transform import (
    averages,
    flag_outliers,
    join_col_strings,
    group_rank,
    long_to_wide,
    wide_to_long,
    state_abbrev,
    var_change_by_groups,
    winsorize,
)
from pd_utils_spark.operators.port import (
    long_short_portfolio,
    portfolio,
    portfolio_averages,
)
from pd_utils_spark.operators.cum import cumulate
from pd_utils_spark.operators.filldata import (
    add_missing_group_rows,
    drop_missing_group_rows,
    fill_excluded_rows,
    fillna_by_groups,
    fillna_by_groups_and_keep_one_per_group,
    interpolate_by_groups,
)
from pd_utils_spark.operators.regby import reg_by
from pd_utils_spark.operators.corr import autocorr_by_groups, formatted_corr_df
from pd_utils_spark.operators.timeseries import (
    drawdown,
    resample_ohlc,
    rolling_beta,
    rolling_corr,
)
from pd_utils_spark.functions.datetime_utils import (
    calendar_asof_dimension,
    convert_sas_date_to_date,
    expand_months,
    expand_time,
    trading_day_dimension,
    us_trading_holidays,
    year_month_from_date,
)
from pd_utils_spark.plot import axis_legend_labels, plot_multi_axis
from pd_utils_spark.timer import estimate_time
from pd_utils_spark.query import select_rows_by_condition_on_columns, sql
from pd_utils_spark.sources.load import (
    df_types_dict,
    load_sas,
    optimized_df,
    read_file,
    read_parquet,
    to_copy_paste,
)
from pd_utils_spark.sources.sink import compact_small_files, write_partitioned

__version__ = "0.1.0"
