package graft.sinks

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.collection.mutable

/** Hand-written Mapbox-Vector-Tile (MVT) encoder/decoder + the
  * sequence-layer commit protocol.
  *
  * Wire format from the public MVT 2.1 spec (protobuf): a Tile message is
  * repeated Layer (field 3); Layer has version=2 (15), name (1), features
  * (2), keys (3), values (4), extent (5); Feature has id (1), packed tags
  * (2), type (3), packed zigzag geometry commands (4). The reference
  * builds tiles via geotrellis `StrictLayer` and gzips them to S3
  * (reference analytics/.../updater/package.scala:130-180,325-340); here
  * the encoding is self-contained.
  *
  * Exactly-once protocol (reference VectorGrid.scala:33-60,
  * EditHistogram.scala:286-305): every tile embeds a `__sequences__`
  * layer listing committed sequence ids (capped at the most recent 1000).
  * An update re-writing a tile first filters sequences already committed
  * — replays of the same micro-batch become no-ops, which together with
  * the store-side dedup guard (UpsertSink) gives end-to-end idempotence.
  */
object Mvt {

  sealed trait MValue
  case class MString(v: String) extends MValue
  case class MLong(v: Long) extends MValue
  case class MDouble(v: Double) extends MValue

  /** geomType: 1=POINT, 2=LINESTRING, 3=POLYGON (spec). `geometry` is the
    * raw command/parameter integer sequence (already zigzagged params are
    * NOT expected — encode() zigzags parameters; commands stay raw). */
  case class Feature(id: Long, geomType: Int, commands: Seq[GeomCommand],
                     tags: Map[String, MValue])
  sealed trait GeomCommand
  case class MoveTo(dxs: Seq[(Int, Int)]) extends GeomCommand
  case class LineTo(dxs: Seq[(Int, Int)]) extends GeomCommand
  case object ClosePath extends GeomCommand

  case class Layer(name: String, extent: Int, features: Seq[Feature])

  // ------------------------------------------------------------ protobuf

  private def writeVarint(out: ByteArrayOutputStream, value0: Long): Unit = {
    var value = value0
    while ((value & ~0x7FL) != 0) {
      out.write(((value & 0x7F) | 0x80).toInt)
      value >>>= 7
    }
    out.write(value.toInt)
  }
  private def zigzag(n: Int): Long = ((n << 1) ^ (n >> 31)).toLong & 0xFFFFFFFFL
  private def unzigzag(n: Long): Int = ((n >>> 1) ^ -(n & 1)).toInt

  private def writeTag(out: ByteArrayOutputStream, field: Int, wireType: Int): Unit =
    writeVarint(out, (field << 3) | wireType)
  private def writeBytes(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    writeTag(out, field, 2); writeVarint(out, b.length); out.write(b)
  }
  private def writeString(out: ByteArrayOutputStream, field: Int, s: String): Unit =
    writeBytes(out, field, s.getBytes("UTF-8"))

  private def encodeValue(v: MValue): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    v match {
      case MString(s) => writeString(out, 1, s)
      case MDouble(d) =>
        writeTag(out, 3, 1)
        val bits = java.lang.Double.doubleToLongBits(d)
        (0 until 8).foreach(i => out.write(((bits >>> (8 * i)) & 0xFF).toInt))
      case MLong(l) => writeTag(out, 4, 0); writeVarint(out, l)
    }
    out.toByteArray
  }

  private def encodeGeometry(commands: Seq[GeomCommand]): Seq[Long] = {
    val buf = mutable.ArrayBuffer.empty[Long]
    commands.foreach {
      case MoveTo(ds) =>
        buf += ((ds.length.toLong << 3) | 1)
        ds.foreach { case (dx, dy) => buf += zigzag(dx); buf += zigzag(dy) }
      case LineTo(ds) =>
        buf += ((ds.length.toLong << 3) | 2)
        ds.foreach { case (dx, dy) => buf += zigzag(dx); buf += zigzag(dy) }
      case ClosePath => buf += ((1L << 3) | 7)
    }
    buf.toSeq
  }

  private def encodeFeature(f: Feature, keyIdx: Map[String, Int],
                            valIdx: Map[MValue, Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeTag(out, 1, 0); writeVarint(out, f.id)
    // packed tags: k,v index pairs
    val tagsOut = new ByteArrayOutputStream()
    f.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      writeVarint(tagsOut, keyIdx(k)); writeVarint(tagsOut, valIdx(v))
    }
    writeBytes(out, 2, tagsOut.toByteArray)
    writeTag(out, 3, 0); writeVarint(out, f.geomType)
    val geomOut = new ByteArrayOutputStream()
    encodeGeometry(f.commands).foreach(writeVarint(geomOut, _))
    writeBytes(out, 4, geomOut.toByteArray)
    out.toByteArray
  }

  private def encodeLayer(layer: Layer): Array[Byte] = {
    val keys = layer.features.flatMap(_.tags.keys).distinct.sorted
    // values in key order, not Map order: equal layers encode to equal
    // bytes however their tag maps were built
    val vals = layer.features.flatMap(_.tags.toSeq.sortBy(_._1).map(_._2)).distinct
    val keyIdx = keys.zipWithIndex.toMap
    val valIdx = vals.zipWithIndex.toMap
    val out = new ByteArrayOutputStream()
    writeTag(out, 15, 0); writeVarint(out, 2) // version
    writeString(out, 1, layer.name)
    layer.features.foreach(f => writeBytes(out, 2, encodeFeature(f, keyIdx, valIdx)))
    keys.foreach(writeString(out, 3, _))
    vals.foreach(v => writeBytes(out, 4, encodeValue(v)))
    writeTag(out, 5, 0); writeVarint(out, layer.extent)
    out.toByteArray
  }

  def encode(layers: Seq[Layer]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    layers.foreach(l => writeBytes(out, 3, encodeLayer(l)))
    out.toByteArray
  }

  // ------------------------------------------------------------ decoder

  private class Reader(b: Array[Byte]) {
    var pos = 0
    def hasMore: Boolean = pos < b.length
    def varint(): Long = {
      var shift = 0; var result = 0L
      var byte = 0
      do {
        byte = b(pos) & 0xFF; pos += 1
        result |= (byte & 0x7FL) << shift; shift += 7
      } while ((byte & 0x80) != 0)
      result
    }
    def bytes(): Array[Byte] = {
      val len = varint().toInt
      val r = java.util.Arrays.copyOfRange(b, pos, pos + len); pos += len; r
    }
    def fixed64(): Long = {
      var v = 0L
      (0 until 8).foreach(i => { v |= (b(pos + i) & 0xFFL) << (8 * i) })
      pos += 8; v
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => bytes()
      case 5 => pos += 4
    }
  }

  def decode(tile: Array[Byte]): Seq[Layer] = {
    val r = new Reader(tile)
    val layers = mutable.ArrayBuffer.empty[Layer]
    while (r.hasMore) {
      val tag = r.varint()
      if ((tag >> 3) == 3 && (tag & 7) == 2) layers += decodeLayer(r.bytes())
      else r.skip((tag & 7).toInt)
    }
    layers.toSeq
  }

  private def decodeLayer(b: Array[Byte]): Layer = {
    val r = new Reader(b)
    var name = ""; var extent = 4096
    val featureBytes = mutable.ArrayBuffer.empty[Array[Byte]]
    val keys = mutable.ArrayBuffer.empty[String]
    val vals = mutable.ArrayBuffer.empty[MValue]
    while (r.hasMore) {
      val tag = r.varint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => name = new String(r.bytes(), "UTF-8")
        case (2, 2) => featureBytes += r.bytes()
        case (3, 2) => keys += new String(r.bytes(), "UTF-8")
        case (4, 2) => vals += decodeValue(r.bytes())
        case (5, 0) => extent = r.varint().toInt
        case (_, wt) => r.skip(wt)
      }
    }
    val features = featureBytes.map(decodeFeature(_, keys.toSeq, vals.toSeq))
    Layer(name, extent, features.toSeq)
  }

  private def decodeValue(b: Array[Byte]): MValue = {
    val r = new Reader(b)
    var v: MValue = MString("")
    while (r.hasMore) {
      val tag = r.varint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => v = MString(new String(r.bytes(), "UTF-8"))
        case (3, 1) => v = MDouble(java.lang.Double.longBitsToDouble(r.fixed64()))
        case (4, 0) => v = MLong(r.varint())
        case (_, wt) => r.skip(wt)
      }
    }
    v
  }

  private def decodeFeature(b: Array[Byte], keys: Seq[String],
                            vals: Seq[MValue]): Feature = {
    val r = new Reader(b)
    var id = 0L; var geomType = 0
    var tags = Map.empty[String, MValue]
    var commands = Seq.empty[GeomCommand]
    while (r.hasMore) {
      val tag = r.varint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 0) => id = r.varint()
        case (2, 2) =>
          val tr = new Reader(r.bytes())
          val m = mutable.Map.empty[String, MValue]
          while (tr.hasMore) {
            val k = tr.varint().toInt; val v = tr.varint().toInt
            m.update(keys(k), vals(v))
          }
          tags = m.toMap
        case (3, 0) => geomType = r.varint().toInt
        case (4, 2) =>
          val gr = new Reader(r.bytes())
          val cmds = mutable.ArrayBuffer.empty[GeomCommand]
          while (gr.hasMore) {
            val ci = gr.varint()
            val cid = (ci & 7).toInt; val count = (ci >> 3).toInt
            cid match {
              case 1 =>
                cmds += MoveTo((0 until count).map(_ =>
                  (unzigzag(gr.varint()), unzigzag(gr.varint()))))
              case 2 =>
                cmds += LineTo((0 until count).map(_ =>
                  (unzigzag(gr.varint()), unzigzag(gr.varint()))))
              case 7 => cmds += ClosePath
            }
          }
          commands = cmds.toSeq
        case (_, wt) => r.skip(wt)
      }
    }
    Feature(id, geomType, commands, tags)
  }

  // ------------------------------------------------------ tile store

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }
  def gunzip(b: Array[Byte]): Array[Byte] = {
    new GZIPInputStream(new ByteArrayInputStream(b)).readAllBytes()
  }

  def tilePath(dir: String, z: Int, x: Long, y: Long): Path =
    Paths.get(dir, z.toString, x.toString, s"$y.mvt")

  /** Object-store key of a tile — the S3/filesystem layout the reference
    * uses (`<z>/<x>/<y>.mvt`). */
  def tileKey(z: Int, x: Long, y: Long): String = s"$z/$x/$y.mvt"

  def writeTile(store: ObjectStore, z: Int, x: Long, y: Long,
                layers: Seq[Layer]): Unit =
    store.put(tileKey(z, x, y), gzip(encode(layers)))

  def readTile(store: ObjectStore, z: Int, x: Long, y: Long): Option[Seq[Layer]] =
    store.get(tileKey(z, x, y)).map(b => decode(gunzip(b)))

  def writeTile(dir: String, z: Int, x: Long, y: Long, layers: Seq[Layer]): Unit =
    writeTile(new LocalFsStore(dir), z, x, y, layers)

  def readTile(dir: String, z: Int, x: Long, y: Long): Option[Seq[Layer]] =
    readTile(new LocalFsStore(dir), z, x, y)

  // ------------------------------------------------- commit protocol

  val SequencesLayerName = "__sequences__"
  val MaxTrackedSequences = 1000

  private def sequencesOf(layers: Seq[Layer]): Set[Long] =
    layers.find(_.name == SequencesLayerName).toSeq
      .flatMap(_.features.flatMap(_.tags.get("sequence")))
      .collect { case MLong(s) => s }.toSet

  /** Pluggable same-id feature-merge strategies — the reference's tile
    * update schemas (reference updater/schemas/: Snapshot replaces,
    * History/default sums date/density maps, Urchn tracks authors —
    * Snapshot.scala:7-58, History.scala:11-137, Urchn.scala:8-113;
    * registry schemas/package.scala:4-8). */
  sealed trait MergeSchema
  /** Sum same-id MLong tags (EditHistogram density semantics). */
  case object SumSchema extends MergeSchema
  /** New feature replaces the old one wholesale (Snapshot semantics). */
  case object SnapshotSchema extends MergeSchema
  /** Full-history retention with `__validUntil` retirement (reference
    * History.scala:49-84): every element generation stays in the tile;
    * a newer generation of an element sets the currently-valid
    * generation's `__validUntil` to its own `__updated` and joins the
    * layer with `__validUntil = 0`. Element identity = `__id` tag
    * (falls back to the feature id). Stale generations (not newer than
    * the stored latest) are ignored. */
  case object HistorySchema extends MergeSchema
  /** One feature per element with accumulated provenance (reference
    * Urchn.scala:8-113): `__authors` is the growing comma-joined author
    * set, `__creation` is preserved from the first generation,
    * `__lastAuthor`/tags/geometry come from the newest generation.
    * Older-or-equal generations are ignored. */
  case object UrchnSchema extends MergeSchema

  private def tagLong(f: Feature, k: String, default: Long = 0L): Long =
    f.tags.get(k) match { case Some(MLong(v)) => v; case _ => default }
  private def tagStr(f: Feature, k: String, default: String = ""): String =
    f.tags.get(k) match { case Some(MString(v)) => v; case _ => default }
  private def elemKey(f: Feature): String = {
    val k = tagStr(f, "__id")
    if (k.nonEmpty) k else f.id.toString
  }

  /** History merge: append newer generations, retire the previously
    * valid one (set `__validUntil` = newcomer's `__updated`). */
  private def mergeHistory(existing: Seq[Feature],
                           incoming: Seq[Feature]): Seq[Feature] = {
    val out = mutable.ArrayBuffer[Feature](existing: _*)
    var nextId = (0L +: out.map(_.id)).max + 1
    incoming.foreach { f =>
      val key = elemKey(f)
      val gens = out.filter(g => elemKey(g) == key)
      val lastUpdated = if (gens.isEmpty) Long.MinValue
        else gens.map(tagLong(_, "__updated")).max
      val fUpdated = tagLong(f, "__updated")
      if (fUpdated > lastUpdated) {
        var i = 0
        while (i < out.length) {
          val g = out(i)
          if (elemKey(g) == key && tagLong(g, "__validUntil") == 0L)
            out(i) = g.copy(tags = g.tags + ("__validUntil" -> MLong(fUpdated)))
          i += 1
        }
        val id = if (out.exists(_.id == f.id)) { val v = nextId; nextId += 1; v }
          else f.id
        out += f.copy(id = id,
          tags = f.tags + ("__validUntil" -> MLong(0L)))
      }
    }
    out.toSeq
  }

  /** Urchn merge: newest generation wins, provenance accumulates. */
  private def mergeUrchn(old: Feature, f: Feature): Feature = {
    if (tagLong(f, "__updated") <= tagLong(old, "__updated")) old
    else {
      val authors = (tagStr(old, "__authors").split(",").filter(_.nonEmpty) ++
        tagStr(f, "__authors").split(",").filter(_.nonEmpty) :+
        tagStr(f, "__lastAuthor")).filter(_.nonEmpty).distinct.sorted
      val creation = (tagLong(old, "__creation", Long.MaxValue) min
        tagLong(f, "__creation", Long.MaxValue)) match {
        case Long.MaxValue => tagLong(f, "__updated")
        case c => c
      }
      Feature(old.id, f.geomType, f.commands,
        f.tags + ("__authors" -> MString(authors.mkString(",")))
          + ("__creation" -> MLong(creation)))
    }
  }

  /** Idempotent read-modify-write: merge `features` into layer `layer` of
    * tile (z,x,y) under `sequence`. A replay of an already-committed
    * sequence is a no-op. Feature merge per `schema` (default: same-id
    * MLong tag values summed — the reference's density-sum replacement,
    * EditHistogram.scala:101-127). */
  def commitTile(dir: String, z: Int, x: Long, y: Long, layer: String,
                 features: Seq[Feature], sequence: Long,
                 extent: Int = 4096,
                 schema: MergeSchema = SumSchema): Boolean =
    commitTile(new LocalFsStore(dir), z, x, y, layer, features, sequence,
      extent, schema)

  /** Store-agnostic commit core: same read-modify-write against any
    * [[ObjectStore]] (s3:// in the reference, file:// or in-memory
    * here). */
  def commitTile(store: ObjectStore, z: Int, x: Long, y: Long, layer: String,
                 features: Seq[Feature], sequence: Long,
                 extent: Int, schema: MergeSchema): Boolean =
    commitTileLayers(store, z, x, y, Seq(layer -> features), sequence,
      extent, schema)

  /** Multi-layer commit: every layer a sequence touches merges in ONE
    * read-modify-write under one `__sequences__` mark. The guard is
    * per-TILE, so a sequence carrying several layers (e.g. one footprint
    * layer per hashtag) must land atomically — committing them as
    * separate calls would mark the sequence on the first layer and
    * silently no-op the rest. The one-sequence case of
    * [[commitTileSequences]]. */
  def commitTileLayers(store: ObjectStore, z: Int, x: Long, y: Long,
                       layerFeatures: Seq[(String, Seq[Feature])],
                       sequence: Long, extent: Int = 4096,
                       schema: MergeSchema = SumSchema): Boolean =
    commitTileSequences(store, z, x, y, Seq(sequence -> layerFeatures),
      extent, schema) == 1

  /** Commit several sequences to one tile in ONE read-modify-write: the
    * tile is read once, each sequence (ascending) passes the
    * `__sequences__` guard and merges its layers exactly as a
    * [[commitTileLayers]] call would, and the tile is written once if
    * any sequence applied. Every step is a pure function of the decoded
    * layers and [[encode]] is canonical, so the bytes equal those of
    * per-sequence commits in ascending order. Returns the number of
    * sequences applied (already-committed ones are skipped). */
  def commitTileSequences(store: ObjectStore, z: Int, x: Long, y: Long,
                          bySequence: Seq[(Long, Seq[(String, Seq[Feature])])],
                          extent: Int = 4096,
                          schema: MergeSchema = SumSchema): Int = {
    val existing = readTile(store, z, x, y).getOrElse(Seq.empty)
    val (layers, applied) = bySequence.sortBy(_._1)
      .foldLeft((existing, 0)) { case ((tile, n), (sequence, layerFeatures)) =>
        applySequence(tile, sequence, layerFeatures, extent, schema)
          .fold((tile, n))(next => (next, n + 1))
      }
    if (applied > 0) writeTile(store, z, x, y, layers)
    applied
  }

  /** One sequence's layers merged into `existing` under the guard, or
    * None when the tile already records `sequence`. */
  private def applySequence(existing: Seq[Layer], sequence: Long,
                            layerFeatures: Seq[(String, Seq[Feature])],
                            extent: Int, schema: MergeSchema): Option[Seq[Layer]] = {
    val committed = sequencesOf(existing)
    if (committed.contains(sequence)) return None // already applied
    val touched = layerFeatures.map(_._1).toSet
    val mergedLayers = layerFeatures.map { case (layer, features) =>
      val existingFeatures =
        existing.find(_.name == layer).toSeq.flatMap(_.features)
      Layer(layer, extent, mergeLayer(existingFeatures, features, schema))
    }
    val newSeqs = (committed + sequence).toSeq.sorted.takeRight(MaxTrackedSequences)
    val seqLayer = Layer(SequencesLayerName, extent,
      newSeqs.zipWithIndex.map { case (s, i) =>
        Feature(i + 1, 1, Seq(MoveTo(Seq((0, 0)))), Map("sequence" -> MLong(s)))
      })
    val others = existing.filterNot(l =>
      touched.contains(l.name) || l.name == SequencesLayerName)
    Some((others ++ mergedLayers) :+ seqLayer)
  }

  /** Same-id feature merge for one layer per `schema` (default: MLong
    * tags summed — the reference's density-sum replacement,
    * EditHistogram.scala:101-127). */
  private def mergeLayer(existingFeatures: Seq[Feature],
                         features: Seq[Feature],
                         schema: MergeSchema): Seq[Feature] =
    schema match {
      case HistorySchema => mergeHistory(existingFeatures, features)
      case UrchnSchema =>
        val byKey = mutable.LinkedHashMap.empty[String, Feature]
        existingFeatures.foreach(f => byKey.update(elemKey(f), f))
        features.foreach { f =>
          val k = elemKey(f)
          // first generation seeds provenance from itself
          val init = f.copy(tags = f.tags
            + ("__authors" -> MString(
                (tagStr(f, "__authors").split(",").filter(_.nonEmpty) :+
                  tagStr(f, "__lastAuthor")).filter(_.nonEmpty)
                  .distinct.sorted.mkString(",")))
            + ("__creation" -> MLong(
                tagLong(f, "__creation", tagLong(f, "__updated")))))
          byKey.get(k) match {
            case None => byKey.update(k, init)
            case Some(old) => byKey.update(k, mergeUrchn(old, init))
          }
        }
        byKey.values.toSeq
      case _ =>
        val byId = mutable.LinkedHashMap.empty[Long, Feature]
        existingFeatures.foreach(f => byId.update(f.id, f))
        features.foreach { f =>
          (byId.get(f.id), schema) match {
            case (None, _) => byId.update(f.id, f)
            case (Some(_), _) if schema != SumSchema => byId.update(f.id, f)
            case (Some(old), _) =>
              val mergedTags = (old.tags.keySet ++ f.tags.keySet).map { k =>
                val merged = (old.tags.get(k), f.tags.get(k)) match {
                  case (Some(MLong(a)), Some(MLong(b))) => MLong(a + b)
                  case (_, Some(v)) => v
                  case (Some(v), _) => v
                  case _ => MString("")
                }
                k -> merged
              }.toMap
              byId.update(f.id, Feature(old.id, old.geomType, old.commands, mergedTags))
          }
        }
        byId.values.toSeq
    }

}
