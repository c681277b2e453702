package graft.streaming

import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

/** Durable batch-id gate for idempotent side effects inside
  * `foreachBatch` — the concrete form of the "gate the append on
  * batchId" replay contract the index appends document
  * ([[graft.operators.Dedup.appendToBandedIndex]],
  * `Similarity.appendToAnnIndex`). Spark's streaming checkpoint
  * guarantees each batchId is REDELIVERED after a crash, not that the
  * caller's side effects ran once; this gate records the last batchId
  * whose side effects completed, so a redelivered batch can skip them.
  *
  * Usage inside the ingest loop (see README "The production ingest
  * loop" for the full form). Note the writes themselves are made
  * idempotent by OVERWRITING a batchId-named partition — replay
  * rewrites the same partition rather than appending duplicates — so
  * the gate only spares a redelivered batch the recompute:
  * {{{
  *   val gate = new BatchIdGate(s"$ckpt/graft-applied")
  *   ...foreachBatch { (batch, batchId) =>
  *     val admitted = StreamingOps.ingestDoor(batch, ...)
  *     writeIdempotent(admitted, batchId, corpusDir)  // partition
  *     if (gate.isNew(batchId)) {                     //   overwrite
  *       writeIdempotent(Dedup.digestIndex(admitted, "text"),
  *         batchId, digestDir)
  *       ...
  *       gate.commit(batchId)
  *     }
  *   }
  * }}}
  *
  * Semantics are apply-then-commit: a crash BETWEEN the side effect
  * and `commit` replays the side effect once more — at-least-once
  * with a one-batch window, exactly the MQ source's
  * commit-after-checkpoint stance on the other side of the pipeline.
  * For in-memory index appends that degradation is benign by design
  * (duplicated digest/band rows are invisible to the LEFT ANTI
  * probes; duplicated ANN rows are cleared by the next rebuild);
  * side effects needing true exactness must be transactional WITH the
  * batchId — the partition-overwrite pattern above — at which point
  * this gate is just the fast-path skip.
  *
  * The record is one file holding the last committed batchId, written
  * via temp-file + atomic rename (the `FileMQTransport.committed`
  * pattern); reads tolerate a missing file (fresh checkpoint = every
  * batch is new). Driver-side only — `foreachBatch` bodies run on the
  * driver, so no distributed coordination is needed.
  */
final class BatchIdGate(path: String) {

  private val file = Paths.get(path)

  /** Last committed batchId, or -1 when nothing committed yet. An
    * unreadable record (empty/garbled file from an OS-level crash the
    * fsyncs below did not cover) also reads as -1: the gate's whole
    * stance is at-least-once, so the correct degradation is "replay
    * everything since the last durable commit", never a crash loop
    * that needs a human to delete the file. */
  def lastCommitted(): Long =
    if (!Files.exists(file)) -1L
    else {
      val raw = new String(Files.readAllBytes(file),
        StandardCharsets.UTF_8).trim
      try raw.toLong
      catch { case _: NumberFormatException => -1L }
    }

  /** True iff `batchId`'s side effects have not been committed —
    * batchIds are monotone per checkpoint, so "new" is a simple
    * greater-than on the stored watermark. */
  def isNew(batchId: Long): Boolean = batchId > lastCommitted()

  /** Record `batchId` as applied. Atomic rename, so a crash
    * mid-commit leaves the previous record intact (the batch replays
    * — at-least-once, never lost). Out-of-order commits are rejected:
    * regressing the watermark would re-open every later batch. */
  def commit(batchId: Long): Unit = {
    require(batchId > lastCommitted(),
      s"commit($batchId) would regress the gate past " +
        s"${lastCommitted()} — batchIds are monotone per checkpoint")
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp,
      batchId.toString.getBytes(StandardCharsets.UTF_8))
    // force data blocks to disk BEFORE the rename: without it a power
    // cut can leave a renamed-but-empty record (which lastCommitted
    // degrades to -1 — correct but replays every batch)
    val ch = FileChannel.open(tmp, StandardOpenOption.WRITE)
    try ch.force(true) finally ch.close()
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // fsync the directory so the rename itself survives a crash;
    // best-effort — not every filesystem provider supports opening a
    // directory (UnsupportedOperationException) or directory fsync
    // (IOException), and the fallback is again only extra replay, so
    // swallow every non-fatal failure rather than fail the commit
    try {
      val dir = FileChannel.open(file.toAbsolutePath.getParent,
        StandardOpenOption.READ)
      try dir.force(true) finally dir.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    ()
  }
}
