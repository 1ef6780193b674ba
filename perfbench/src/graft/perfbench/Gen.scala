package graft.perfbench

import graft.functions.ImageKernels
import graft.sources.SiteGraph.{mix, unit}
import java.awt.image.BufferedImage

/** Seeded input generators. Every row is a pure function of (seed, id), so
  * the same seed gives the same inputs; the planted strains sit at fixed id
  * residues, so every seed plants the same number of each. */
object Gen {

  private val Syllables = Array("ka", "lo", "mi", "ren", "tu", "sa", "vo", "pe", "dri",
    "an", "go", "zu", "bel", "to", "ni", "ra", "qua", "el", "fo", "si")

  /** Word `k` of an 8000-word vocabulary. */
  def word(k: Int): String =
    Syllables(k % 20) + Syllables(k / 20 % 20) + Syllables(k / 400 % 20)

  private def zipfWord(h: Long): String = // log-uniform rank, about Zipf(1)
    word((math.exp(unit(h) * math.log(8000.0)) - 1).toInt.min(7999))

  private def uniformWord(h: Long): String = word((unit(h) * 8000).toInt.min(7999))

  // ---- text corpus -----------------------------------------------------

  /** Residues of the planted text strains (id % 20, except contamination). */
  def isExactDup(id: Long): Boolean = id % 20 == 1   // copy of id - 1
  def isNearDup(id: Long): Boolean = id % 20 == 3    // id - 3 with two words changed
  def isLowQuality(id: Long): Boolean = id % 20 == 5 // too short or repetitive
  def isPii(id: Long): Boolean = id % 20 == 7        // email, phone and IP inside
  def isContaminated(id: Long): Boolean = id % 50 == 9 // a passage of an eval doc

  private def baseTokens(seed: Long, id: Long): Array[String] = {
    val n = 50 + (mix(seed, 1L, id) >>> 33) % 41
    Array.tabulate(n.toInt)(j => zipfWord(mix(seed, 2L, id, j.toLong)))
  }

  def evalTokens(seed: Long, e: Long): Array[String] =
    Array.tabulate(30)(j => uniformWord(mix(seed, 3L, e, j.toLong)))

  /** Text of corpus document `id` (evalDocs sizes the eval set it quotes). */
  def docText(seed: Long, id: Long, evalDocs: Long): String = {
    if (isExactDup(id)) docText(seed, id - 1, evalDocs)
    else if (isNearDup(id)) {
      val t = baseTokens(seed, id - 3)
      Seq(7, t.length - 9).foreach(j => t(j) = uniformWord(mix(seed, 4L, id, j.toLong)))
      t.mkString(" ")
    } else if (isLowQuality(id)) {
      if (id % 40 == 5) baseTokens(seed, id).take(6).mkString(" ")
      else Array.fill(60)(zipfWord(mix(seed, 5L, id))).mkString(" ")
    } else if (isPii(id)) {
      val t = baseTokens(seed, id)
      val h = mix(seed, 6L, id)
      val pii = Seq(s"mail user${id}@example${h % 7}.com", f"call 555-${h >>> 40 & 0xfff}%04d",
        s"host 10.${h >>> 8 & 0xff}.${h >>> 16 & 0xff}.${h >>> 24 & 0xff}")
      (t.take(20) ++ pii ++ t.drop(20)).mkString(" ")
    } else if (isContaminated(id)) {
      val t = baseTokens(seed, id)
      val e = evalTokens(seed, id / 50 % evalDocs).slice(5, 17)
      (t.take(15) ++ e ++ t.drop(15)).mkString(" ")
    } else baseTokens(seed, id).mkString(" ")
  }

  // ---- images and embeddings ------------------------------------------

  /** Residues of the planted image strains (id % 16); a group's base is id
    * with id % 16 == 0. Byte copies, re-encodes and semantic neighbours of
    * one base form one duplicate group. */
  def isByteCopy(id: Long): Boolean = id % 16 == 1  // the base's exact bytes
  def isReencode(id: Long): Boolean = id % 16 == 3  // the base's pixels as JPEG
  def isBadCaption(id: Long): Boolean = id % 16 == 5 // caption gate failure
  def isSemantic(id: Long): Boolean = id % 16 == 7  // other pixels, same content
  def isHotCaption(id: Long): Boolean = id % 8 == 2 // one shared caption
  def groupBase(id: Long): Long =
    if (isByteCopy(id) || isReencode(id) || isSemantic(id)) id - id % 16 else id

  val HotCaption = "stock photo of a noise field"
  val W = 48
  val H = 36

  def imageId(id: Long): String = f"img_$id%07d"

  /** Blocky seeded noise: 6x6 blocks of random colour. Noise phashes spread
    * over all 64 bits (smooth gradients cluster), so near-dup candidates
    * are the planted ones. */
  def noise(seed: Long, k: Long): BufferedImage = {
    val im = new BufferedImage(W, H, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < H) {
      var x = 0
      while (x < W) {
        im.setRGB(x, y, (mix(seed, 7L, k, (x / 6).toLong, (y / 6).toLong) >>> 40).toInt & 0xffffff)
        x += 1
      }
      y += 1
    }
    im
  }

  /** (image_id, bytes, w, h, fmt, caption, phash) of image `id`. */
  def imageRow(seed: Long, id: Long): (String, Array[Byte], Int, Int, String, String, Long) = {
    val (bytes, fmt) =
      if (isReencode(id)) (ImageKernels.encode(noise(seed, groupBase(id)), "jpeg"), "jpeg")
      else if (isByteCopy(id)) (ImageKernels.encode(noise(seed, groupBase(id)), "png"), "png")
      else (ImageKernels.encode(noise(seed, id), "png"), "png")
    val caption =
      if (isBadCaption(id)) "x"
      else if (isHotCaption(id)) HotCaption
      else s"a photo of a ${word((mix(seed, 8L, id) >>> 40).toInt % 8000)} " +
        s"${word((mix(seed, 9L, id) >>> 40).toInt % 8000)} field"
    (imageId(id), bytes, W, H, fmt, caption, ImageKernels.phash64(bytes))
  }

  val Dims = 32

  /** Unit embedding of image `id`: one group shares its base's direction
    * (a semantic neighbour adds small noise, cosine about 0.99). */
  def embedding(seed: Long, id: Long): Array[Double] = {
    val base = groupBase(id)
    def gauss(k: Long, d: Int, salt: Long): Double = {
      val u1 = math.max(unit(mix(seed, salt, k, d.toLong)), 1e-12)
      val u2 = unit(mix(seed, salt + 1, k, d.toLong))
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val v = Array.tabulate(Dims) { d =>
      gauss(base, d, 10L) + (if (isSemantic(id)) 0.1 * gauss(id, d, 12L) else 0.0)
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}
