"""Structured-streaming variants of the batch jobs."""


def drain(stream, process_batch, checkpoint_dir: str,
          available_now: bool = True):
    """Run ``process_batch`` on each micro-batch of ``stream``, with
    offsets kept in ``checkpoint_dir``. ``available_now=True`` drains
    what has landed and returns the stopped query; ``False`` returns
    the running query."""
    writer = (stream.writeStream.foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if not available_now:
        return writer.start()
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    return query
