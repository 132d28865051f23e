package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Train-once / load-at-query-time lifecycle for the product-quantization
  * codebooks — the same artifact discipline as IvfIndex: the model is
  * m·k·subDim floats (4 KB at m=4, k=16, d=16), trained offline once
  * (`graft.tools.Inspect warm`) and loaded by every query. The file stores the
  * m codebooks as m consecutive blocks of k comma-separated float rows;
  * Float.toString/parseFloat round-trips exactly, so a load is
  * bit-identical to the training output.
  */
object PqIndex {

  private val cache = TrieMap.empty[String, Array[Array[Array[Float]]]]

  /** Dataset dir most recently asked for codebooks in this JVM (see
    * IvfIndex.lastSfDir — same oracle-generation contract).
    */
  @volatile private var lastDir: Option[String] = None
  def lastSfDir: Option[String] = lastDir

  /** `tag` distinguishes codebook VARIANTS trained with the same (m, k,
    * iters) but different inputs — "" for raw-vector books (q_pq_topk),
    * "res<ivfK>x<ivfIters>" for IVF-residual books (q_ivfpq_topk, keyed
    * by the coarse quantizer they residualize against). Without it the
    * two variants would silently share one positional artifact.
    */
  def artifactPath(sfDir: String, m: Int, k: Int, iters: Int, tag: String = ""): Path = {
    val abs = Paths.get(sfDir).toAbsolutePath.normalize.toString
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val t = if (tag.isEmpty) "" else s"-$tag"
    IvfIndex.artifactRoot.resolve(s"pq$t-${Paths.get(abs).getFileName}-$h-m$m-k$k-i$iters.csv")
  }

  /** Codebooks for (sfDir, m, k, iters, tag): cache → artifact → train-once. */
  def codebooksFor(sfDir: String, m: Int, k: Int, iters: Int, tag: String = "")
                  (train: => Array[Array[Array[Float]]]): Array[Array[Array[Float]]] = {
    lastDir = Some(sfDir)
    cache.getOrElseUpdate(artifactPath(sfDir, m, k, iters, tag).toString, {
      val p = artifactPath(sfDir, m, k, iters, tag)
      if (Files.exists(p)) load(p, k)
      else {
        val c = train
        // The artifact format is positional (k rows per book), so a book
        // with fewer centroids (corpus < k vectors) would reload
        // misaligned (ADVICE r6) — refuse to persist such a shape.
        require(c.forall(_.length == k),
          s"PQ books must have exactly $k centroids each to persist; got ${c.map(_.length).mkString(",")}")
        persist(p, c)
        c
      }
    })
  }

  /** Codebooks if already trained/persisted — never trains. */
  def loadIfPresent(sfDir: String, m: Int, k: Int, iters: Int,
                    tag: String = ""): Option[Array[Array[Array[Float]]]] = {
    val key = artifactPath(sfDir, m, k, iters, tag).toString
    cache.get(key).orElse {
      val p = artifactPath(sfDir, m, k, iters, tag)
      if (Files.exists(p)) {
        val c = load(p, k)
        cache.putIfAbsent(key, c)
        Some(c)
      } else None
    }
  }

  private def load(p: Path, k: Int): Array[Array[Array[Float]]] = {
    val rows = Files.readAllLines(p).asScala.toArray
      .filter(_.nonEmpty)
      .map(_.split(",").map(java.lang.Float.parseFloat))
    // Shape check (ADVICE r6): the format is positional, so a row count
    // that isn't a multiple of k means the artifact was written with
    // different parameters — loading it would silently misalign codebooks.
    require(rows.nonEmpty && rows.length % k == 0,
      s"PQ artifact $p has ${rows.length} rows, not a multiple of k=$k")
    rows.grouped(k).map(_.toArray).toArray
  }

  private def persist(p: Path, books: Array[Array[Array[Float]]]): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, p.getFileName.toString, ".tmp")
    Files.write(tmp,
      books.flatMap(_.map(_.map(_.toString).mkString(","))).toSeq.asJava)
    try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    catch { // concurrent writer won: theirs is bit-identical (deterministic training)
      case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp)
    }
  }
}
