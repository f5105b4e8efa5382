from .readers import read_tsv, read_json_docs, read_yaml_docs, listing  # noqa: F401
from .sinks import write_tsv, write_json  # noqa: F401
