from .bucketed import read_bucketed, write_bucketed
from .sinks import (
    read_json_products,
    write_csv_offers,
    write_jdbc_relational,
    write_json_products,
    write_mongo_documents,
    write_timestamped_backup,
)

__all__ = [
    "read_bucketed",
    "read_json_products",
    "write_bucketed",
    "write_csv_offers",
    "write_jdbc_relational",
    "write_json_products",
    "write_mongo_documents",
    "write_timestamped_backup",
]
