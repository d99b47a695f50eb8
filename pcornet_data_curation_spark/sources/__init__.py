from pcornet_data_curation_spark.sources.tables import (  # noqa: F401
    export_csv,
    open_table,
)
