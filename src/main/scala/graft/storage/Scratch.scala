package graft.storage

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Build-once scratch state for queries that derive persistent inputs
  * (d10's dedup state, versioned catalogs, IVF-PQ indexes, edge lists).
  *
  * Keying: state keyed on the md5 of the input PATH alone silently
  * survives the input's files changing underneath it — the gate would
  * then run against stale state. Folding every file's (relative path,
  * size, mtime) into the key makes any input mutation produce a
  * different scratch location, forcing a rebuild. Size+mtime, not
  * content hashes: fingerprinting must stay O(file count) — at 100 TB
  * you cannot re-read the corpus to decide whether to reuse derived
  * state, and object stores version exactly this way.
  *
  * Completion: a `_complete` marker written LAST under the root. A
  * missing marker means a torn build, and the partial root is WIPED
  * before the rebuild — versioned builds commit on top of whatever
  * they find, so rebuilding over leftovers would silently change the
  * version history the queries read.
  */
object Scratch {

  private val Marker = "_complete"

  /** A scratch root and the input key it was derived from (the first 8
    * hex digits of [[fingerprint]]; some callers name catalogs with
    * it). */
  final case class State(root: String, key: String) {
    /** What the build returned to [[onceWith]], read from the marker. */
    def payload: String = Files.readString(Paths.get(root, Marker)).trim
  }

  /** The state for `tag` over `input`, built by `build` unless a
    * complete build already exists: `java.io.tmpdir/graft_<tag>_<key>`.
    * The input is walked once per call; a present marker costs one
    * stat. */
  def once(tag: String, input: String)(build: State => Unit): State =
    onceWith(tag, input) { st => build(st); "" }

  /** [[once]] whose build returns a payload (a build-time measurement)
    * stored in the marker and read back via [[State.payload]]. */
  def onceWith(tag: String, input: String)(build: State => String): State = {
    val key = fingerprint(input).take(8)
    val st = State(s"${sys.props("java.io.tmpdir")}/graft_${tag}_$key", key)
    val marker = Paths.get(st.root, Marker)
    if (!Files.exists(marker)) {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st.root))
      val payload = build(st)
      // the marker appears whole or not at all: a torn payload write
      // would otherwise read back as a wrong measurement
      val staged = Paths.get(st.root, s"$Marker.tmp")
      Files.createDirectories(marker.getParent)
      Files.writeString(staged, payload)
      Files.move(staged, marker, StandardCopyOption.ATOMIC_MOVE)
    }
    st
  }

  def fingerprint(dir: String): String = {
    val root = Paths.get(dir)
    val sb = new StringBuilder(dir)
    if (Files.isDirectory(root)) {
      val stream = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(p => (root.relativize(p).toString, Files.size(p),
            Files.getLastModifiedTime(p).toMillis))
          .toSeq.sortBy(_._1)
          .foreach { case (name, size, mtime) =>
            sb.append('|').append(name).append(':')
              .append(size).append(':').append(mtime)
          }
      } finally stream.close()
    }
    org.apache.commons.codec.digest.DigestUtils.md5Hex(sb.toString)
  }
}
