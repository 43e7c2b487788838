package graft.sources

/** Least-recently-used cache of parsed write-once files, bounded by the
  * total byte size of the SOURCE files its entries were parsed from.
  *
  * Iceberg metadata JSON, manifest lists and manifests are never rewritten
  * in place: every commit writes new files whose names carry a UUID or a
  * snapshot id. A path therefore names the same content for the life of
  * the process, and re-reading it costs one object-store round trip per
  * file per query (Dremel's "reuse of file operations", VLDB 2020).
  *
  * Loads run outside the lock, so two threads missing on the same key may
  * both read the file; the second insert simply replaces the first. A
  * load that throws caches nothing. An entry larger than the whole bound
  * is returned but never stored.
  */
final class SourceCache(val maxBytes: Long) {
  import SourceCache.Entry

  // Access-ordered: iteration starts at the least recently used entry.
  private val entries = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
  private var held = 0L

  /** Total source bytes of the cached entries (never above `maxBytes`). */
  def bytes: Long = synchronized(held)

  def size: Int = synchronized(entries.size)

  /** The cached value for `key`, or the result of `load` — which returns
    * the parsed value and the byte size of the file it was parsed from.
    */
  def getOrLoad[T <: AnyRef](key: String)(load: => (T, Long)): T = {
    val hit = synchronized(entries.get(key))
    if (hit != null) hit.value.asInstanceOf[T]
    else {
      val (value, sourceBytes) = load
      if (sourceBytes <= maxBytes) synchronized {
        Option(entries.put(key, Entry(value, sourceBytes))).foreach(old => held -= old.bytes)
        held += sourceBytes
        val it = entries.values.iterator
        while (held > maxBytes && it.hasNext) {
          held -= it.next().bytes
          it.remove()
        }
      }
      value
    }
  }
}

private object SourceCache {
  private final case class Entry(value: AnyRef, bytes: Long)
}
