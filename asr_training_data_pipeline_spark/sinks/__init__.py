from .exports import (  # noqa: F401
    export_pair_files,
    export_pipeline_outputs,
    write_clips_tsv,
    write_json_records,
    write_summary_json,
    write_word_coverage_csv,
)
