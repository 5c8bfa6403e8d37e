package graft

object StoreFiles {
  /** Sum of data-file (and DV sidecar) bytes under a graft-store dir —
    * every publishable artifact class: written, merged and rewritten
    * data files and deletion vectors.
    */
  def allBytes(path: String): Long = {
    def go(d: java.io.File): Long =
      Option(d.listFiles()).getOrElse(Array.empty).map {
        case f if f.isFile && (f.getName.startsWith("part-") ||
          f.getName.startsWith("merged-") || f.getName.startsWith("rewrite-") ||
          f.getName.startsWith("dv-")) => f.length()
        case d2 if d2.isDirectory && d2.getName.contains("=") => go(d2)
        case _ => 0L
      }.sum
    go(new java.io.File(path))
  }
}
