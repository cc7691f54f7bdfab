from .pipeline import run_batch_pipeline, start_gold_job, start_silver_job

__all__ = ["start_silver_job", "start_gold_job", "run_batch_pipeline"]
