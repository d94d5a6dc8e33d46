package graft

/**
 * The one path from (kind, corpus) to a standing store: every
 * per-corpus artifact built once and then served (inverted-index
 * segments, PQ codes and codebooks, tokenizer and language models,
 * media fixtures, staged stream inputs).
 *
 * The rule, stated once:
 *  - A store is keyed by its `kind` plus [[Tables.corpusKey]] of the
 *    corpus directory (file names, lengths, mtimes — a regenerated
 *    corpus misses). A kind carries a layout version, e.g.
 *    `inv_index@v2`, bumped whenever the on-disk layout changes, so an
 *    old artifact never serves a new layout. Fit parameters go into
 *    the kind too (`bpe_merges_24@v1`).
 *  - A miss builds exactly once per JVM, even when several threads
 *    miss the same key at the same time (Verify runs four gates in
 *    flight): the memo holds one lazily evaluated cell per key, and
 *    racing callers wait for its single build.
 *  - With `GRAFT_STORE_DIR` set, every store is durable: it lands at
 *    `<root>/<corpusKey-slug>/<kind>` with a `_GRAFT_DONE` marker
 *    written after the build, and a later JVM on the same corpus is
 *    served from it without a rebuild. Unset (Verify, Bench, the tests
 *    and perfbench, which measure the cold build inside one JVM), each
 *    store is built into a JVM-local scratch directory.
 */
object StoreCatalog {

  /** One memo entry; the `lazy val` runs `build` once however many
    * callers race on the entry. */
  private final class Cell(build: => AnyRef) {
    lazy val value: AnyRef = build
  }

  private val memo =
    scala.collection.concurrent.TrieMap[(String, String), Cell]()

  /** Test hook: env vars are immutable inside a JVM, so WarmStoreSpec
    * points the catalog at a scratch root through this. */
  private[graft] var rootOverride: Option[String] = None

  /** Durable root, when persistence is on. */
  def root: Option[String] =
    rootOverride.orElse(sys.env.get("GRAFT_STORE_DIR").filter(_.nonEmpty))

  private def slug(key: String): String =
    key.replaceAll("[^A-Za-z0-9._@-]", "_")

  private def marker(dir: java.io.File) =
    new java.io.File(dir, "_GRAFT_DONE")

  private def freshDir(dir: java.io.File): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    if (dir.exists()) rm(dir)
    dir.mkdirs(); ()
  }

  /** The one miss path. Memo hit → the value; durable dir with its
    * marker → `load` it; otherwise `build` into a fresh directory (the
    * durable one, then marked done, or a scratch one). */
  private def stored[T <: AnyRef](kind: String, sfDir: String)(
      build: String => T)(load: String => T): T = {
    val key = Tables.corpusKey(sfDir)
    val durable =
      root.map(r => new java.io.File(s"$r/${slug(key)}/${slug(kind)}"))
    memo.getOrElseUpdate((kind, key), new Cell(durable match {
      case Some(dir) if marker(dir).exists() => load(dir.toString)
      case Some(dir) =>
        freshDir(dir)
        val v = build(dir.toString)
        java.nio.file.Files.write(marker(dir).toPath, Array[Byte]())
        v
      case None => build(graft.sources.OrcIo.scratchDir(slug(kind)))
    })).value.asInstanceOf[T]
  }

  /** Directory store: `build` writes the artifact into the directory
    * it is given, which is returned. */
  def pathStore(kind: String, sfDir: String)(build: String => Unit)
      : String =
    stored(kind, sfDir) { d => build(d); d }(identity)

  /** Directory store that pairs on-disk data with a driver-side model
    * (PQ codes plus their codebook): `build` writes the data into the
    * directory and returns the model, which is java-serialized beside
    * it as `model.bin`. Returns (model, directory). */
  def modelPathStore[T <: AnyRef with Serializable](kind: String,
      sfDir: String)(build: String => T): (T, String) =
    stored(kind, sfDir) { d =>
      val m = build(d)
      val out = new java.io.ObjectOutputStream(
        new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(s"$d/model.bin")))
      try out.writeObject(m) finally out.close()
      (m, d)
    } { d =>
      val in = new java.io.ObjectInputStream(
        new java.io.BufferedInputStream(
          new java.io.FileInputStream(s"$d/model.bin")))
      try (in.readObject().asInstanceOf[T], d) finally in.close()
    }

  /** Driver-side fitted value (centroid matrices, codebooks, merge
    * tables, vocabularies, schemas). */
  def modelStore[T <: AnyRef with Serializable](kind: String,
      sfDir: String)(fit: => T): T =
    modelPathStore(kind, sfDir)(_ => fit)._1

  /** Test hook: forget the in-memory layer (simulates a fresh JVM —
    * durable artifacts survive and must satisfy the next lookup). */
  def dropInMemory(): Unit = memo.clear()
}
