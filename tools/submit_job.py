"""spark-submit driver file for the extraction job.

spark-submit runs a driver FILE, not a module, so this file hands its
arguments to the job's one CLI (``pipeline.job.main``): the flags, the
defaults and the session config are the ones ``python -m
ocr_processing_pipeline_spark.pipeline.job`` uses. spark-submit's
--master stands (``session.get_spark`` leaves the master to it).
Executors import the package from the shipped zip. Example (validated by
tests/test_submit.py):

    python tools/package_pyfiles.py
    spark-submit --master 'local[8]' \\
        --py-files dist/ocr_processing_pipeline_spark.zip \\
        tools/submit_job.py --pages .../pages.parquet \\
        --gazetteers-dir ... --out ...
"""

from ocr_processing_pipeline_spark.pipeline.job import main

if __name__ == "__main__":
    main()
