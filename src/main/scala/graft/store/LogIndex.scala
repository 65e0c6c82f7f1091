package graft.store

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Path, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, ThreadLocalRandom}

import scala.util.Using

/** Incremental reader of one append-only, newline-terminated text file
  * (a table's `_log.jsonl` or `_pruned.jsonl`, or the store's execution
  * journal `_executions/log.jsonl`), folding each line into an immutable
  * state `S`. Writers add lines only through [[MetaFiles.append]]: one
  * write per batch of lines, serialized within the process, so the
  * process's appends never interleave bytes, however long a line.
  *
  * Each [[read]] stats the file once and, when it is not empty, re-reads
  * its first line: each of these files starts with a line no other file
  * starts with (a unique version id, or a run's execution id), so a first
  * line that differs from the cached one means the file was replaced,
  * even when a reused inode gives it the old file key and the same size.
  * Unchanged → the cached state. Growth → only the bytes past the last
  * consumed newline are read, and only complete lines are folded in; an
  * unterminated last line (a writer mid-append) stays unread until its
  * newline lands. A changed file key or first line, a shrink, or a
  * consumed prefix that no longer ends in a newline → the file is re-read
  * whole. A line that `add` rejects fails the call and leaves the state
  * where it was, so the next call fails the same way. Missing file →
  * `empty`.
  *
  * Calls are serialized per file; the returned state is immutable and safe
  * to share. */
private[store] final class LogIndex[S](path: Path, empty: S, add: (S, String) => S) {
  private var key: AnyRef = null
  private var head = Array.emptyByteArray // first line, newline included
  private var consumed = 0L // bytes up to and including the last folded newline
  private var state: S = empty

  def read(): S = synchronized {
    try refresh(Files.readAttributes(path, classOf[BasicFileAttributes]))
    catch { case _: NoSuchFileException => reset(null) }
    state
  }

  private def refresh(attrs: BasicFileAttributes): Unit = {
    val size = attrs.size()
    if (attrs.fileKey() != key || size < consumed) reset(attrs.fileKey())
    if (size > 0) {
      val ch = FileChannel.open(path, StandardOpenOption.READ)
      try {
        // the consumed prefix must still start with the cached first line
        // and end in a newline, else the file was replaced under us
        if (consumed > 0 && (!java.util.Arrays.equals(bytesAt(ch, 0, head.length), head) ||
            !bytesAt(ch, consumed - 1, 1).sameElements(Array('\n'.toByte))))
          reset(attrs.fileKey())
        if (size > consumed) {
          val bytes = bytesAt(ch, consumed, (size - consumed).toInt)
          val end = bytes.lastIndexOf('\n'.toByte)
          if (end >= 0) {
            var s = state
            new String(bytes, 0, end, StandardCharsets.UTF_8).split('\n').foreach { l =>
              val line = l.stripSuffix("\r")
              if (line.nonEmpty) s = add(s, line)
            }
            state = s
            if (consumed == 0) head = bytes.take(bytes.indexOf('\n'.toByte) + 1)
            consumed += end + 1
          }
        }
      } finally ch.close()
    }
  }

  private def reset(k: AnyRef): Unit = {
    key = k; head = Array.emptyByteArray; consumed = 0L; state = empty
  }

  /** Up to `n` bytes at `pos` (fewer at end of file). */
  private def bytesAt(ch: FileChannel, pos: Long, n: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(n)
    while (buf.hasRemaining && ch.read(buf, pos + buf.position()) > 0) ()
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }
}

/** The one writer of the store's metadata files, beside their one reader
  * ([[LogIndex]]):
  *   - the append-only logs (`<table>/_log.jsonl`, `<table>/_pruned.jsonl`,
  *     `_executions/log.jsonl`) grow only by [[append]];
  *   - the small replace-whole files (`_transactions/<txid>.json`,
  *     `_offsets/<fn>.json`) change only by [[publish]]. */
private[graft] object MetaFiles {
  /** Appends `lines`, each terminated by a newline, in one write. Appends
    * are serialized within the process, so concurrent appenders never
    * interleave bytes, whatever a line's length (a buffered writer splits a
    * long line into several writes). */
  def append(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    val buf = ByteBuffer.wrap(lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
    synchronized {
      Using.resource(FileChannel.open(p, StandardOpenOption.CREATE,
          StandardOpenOption.WRITE, StandardOpenOption.APPEND)) { ch =>
        while (buf.hasRemaining) ch.write(buf)
      }
    }
  }

  /** Replaces `p` with `body` in one atomic rename: readers see the old
    * file or the new one, never a partial write. The temp file sits in the
    * same directory (a rename does not cross file systems) under a name of
    * its own, so concurrent publishes of one file never share it. */
  def publish(p: Path, body: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(
      s".${p.getFileName}.${java.lang.Long.toHexString(ThreadLocalRandom.current().nextLong())}.tmp")
    Files.writeString(tmp, body, StandardCharsets.UTF_8)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** One [[LogIndex]] per file path, made on the first read of an existing
    * file: probes of absent files (e.g. HTTP lookups of arbitrary table
    * names) do not grow the map. */
  final class Indexed[S](empty: S, add: (S, String) => S) {
    private val indexes = new ConcurrentHashMap[Path, LogIndex[S]]()

    def read(p: Path): S = {
      val ix = indexes.get(p)
      if (ix != null) ix.read()
      else if (!Files.exists(p)) empty
      else indexes.computeIfAbsent(p, new LogIndex(_, empty, add)).read()
    }

    /** Forgets `p`'s index (its file was deleted). */
    def drop(p: Path): Unit = indexes.remove(p)
  }
}
