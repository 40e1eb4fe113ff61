from .tables import (
    TABLE_NAMES,
    arrow_local_df,
    load_tables,
    read_csv,
    read_table,
    run_concurrently,
    session_builder,
    session_conf,
    write_summary,
)

__all__ = ["read_table", "read_csv", "load_tables", "session_builder",
           "session_conf", "run_concurrently", "write_summary",
           "arrow_local_df", "TABLE_NAMES"]
