from batch_jaro_winkler_spark.streaming.incremental import session_window_stats

__all__ = ["session_window_stats"]
