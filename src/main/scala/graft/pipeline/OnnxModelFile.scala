package graft.pipeline

/** Structural (never-executing) inspector for ONNX model FILES — the
  * pre-flight check a cluster job runs before fanning a model out to
  * 1000 executors: parse the ModelProto graph metadata (input/output
  * tensor names, element types, declared dims, node op inventory) from
  * the raw bytes and verify the engine's window arithmetic against the
  * model-DECLARED shapes, without loading any runtime or executing any
  * foreign logic. Wire-format reader written from the public
  * onnx.proto3 schema, the decoding dual of [[OnnxFixture]]'s writer.
  *
  * Also recognizes git-lfs POINTER files (`version https://git-lfs...`
  * + `oid sha256:...` + `size N`): a checkout without `git lfs pull`
  * ships 132/133-byte pointers where the weights should be, and feeding
  * one to an ONNX runtime yields a parse error long after job launch.
  * The reference snapshot itself ships exactly such pointers for
  * `sig_bak_ovr.onnx` / `UVR-MDX-NET-Inst_HQ_3.onnx` (dnsmos.py:149,
  * source_separation_config.json model_path) — [[inspect]] reports
  * them loudly as [[LfsPointer]] instead of a confusing protobuf
  * failure.
  */
object OnnxModelFile {

  /** One declared graph input/output: dims use the [[OnnxFixture]]
    * convention — concrete `dim_value`s as-is, symbolic `dim_param`s
    * as -1 (the param names, usually batch "N"/"B", are kept in
    * `dimParams` positionally keyed).
    */
  final case class TensorInfo(name: String, elemType: Int, dims: Seq[Long],
      dimParams: Map[Int, String]) {
    /** Elements per single item with symbolic dims struck out — the
      * number the window arithmetic must hit (e.g. DNSMOS [N, 144160]
      * -> 144160).
      */
    def fixedNumel: Long = dims.filter(_ >= 0).product
  }

  sealed trait ModelFileInfo

  /** A git-lfs pointer stub: the weights are NOT here; `oid` is the
    * sha256 of the real file, `declaredSize` its byte length.
    */
  final case class LfsPointer(oid: String, declaredSize: Long)
      extends ModelFileInfo

  /** Parsed ModelProto metadata. `opTypes` is the graph's node op
    * inventory in declaration order; `initializers` the stored-weight
    * tensor names (data skipped, never materialized).
    */
  final case class ModelInfo(irVersion: Long, opsets: Seq[(String, Long)],
      graphName: String, inputs: Seq[TensorInfo], outputs: Seq[TensorInfo],
      opTypes: Seq[String], initializers: Seq[String]) extends ModelFileInfo {
    /** Graph inputs that are not initializer-backed — what a session
      * run must actually feed (real models list weights in both).
      */
    def runtimeInputs: Seq[TensorInfo] = {
      val init = initializers.toSet
      inputs.filterNot(t => init.contains(t.name))
    }
  }

  private val LfsMagic = "version https://git-lfs.github.com/spec/v1"

  def inspectFile(path: String): ModelFileInfo =
    inspect(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  def inspect(bytes: Array[Byte]): ModelFileInfo = {
    require(bytes.nonEmpty, "empty model file")
    if (bytes.length >= LfsMagic.length &&
        new String(bytes, 0, LfsMagic.length, "UTF-8") == LfsMagic)
      return parseLfs(new String(bytes, "UTF-8"))
    parseModel(bytes)
  }

  private def parseLfs(text: String): LfsPointer = {
    val kv = text.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
      .flatMap { line =>
        val sp = line.indexOf(' ')
        if (sp > 0) Some(line.substring(0, sp) -> line.substring(sp + 1)) else None
      }.toMap
    val oid = kv.getOrElse("oid",
      throw new IllegalArgumentException("git-lfs pointer without oid"))
    require(oid.startsWith("sha256:"), s"unexpected lfs oid scheme: $oid")
    val size = kv.getOrElse("size",
      throw new IllegalArgumentException("git-lfs pointer without size")).toLong
    LfsPointer(oid.stripPrefix("sha256:"), size)
  }

  // ------------------------------------------------ protobuf walking

  private def readVarint(b: Array[Byte], p0: Int, end: Int): (Long, Int) = {
    var p = p0; var shift = 0; var v = 0L
    while (true) {
      require(p < end, "varint runs off the buffer")
      val x = b(p) & 0xff
      v |= (x & 0x7fL) << shift
      p += 1
      if ((x & 0x80) == 0) return (v, p)
      shift += 7
      require(shift < 64, "varint too long")
    }
    (v, p) // unreachable
  }

  /** Walk one message's TLVs in [from, to), dispatching every field to
    * `f(field, wire, start, end)` where [start, end) is the payload
    * (varint payloads pass their encoded span; `f` re-reads). Skips
    * fixed32/fixed64 correctly — real models carry float payloads the
    * fixture writer never emits.
    */
  private def walkFields(b: Array[Byte], from: Int, to: Int)
      (f: (Int, Int, Int, Int) => Unit): Unit = {
    var p = from
    while (p < to) {
      val (tag, p1) = readVarint(b, p, to)
      val field = (tag >> 3).toInt
      val wire = (tag & 7).toInt
      wire match {
        case 0 =>
          val (_, p2) = readVarint(b, p1, to)
          f(field, 0, p1, p2); p = p2
        case 1 =>
          require(p1 + 8 <= to, s"fixed64 field $field overruns")
          f(field, 1, p1, p1 + 8); p = p1 + 8
        case 2 =>
          val (len, p2) = readVarint(b, p1, to)
          require(p2 + len <= to, s"length-delimited field $field overruns")
          f(field, 2, p2, (p2 + len).toInt); p = (p2 + len).toInt
        case 5 =>
          require(p1 + 4 <= to, s"fixed32 field $field overruns")
          f(field, 5, p1, p1 + 4); p = p1 + 4
        case w => throw new IllegalArgumentException(
          s"unexpected wire type $w for field $field (not an ONNX protobuf?)")
      }
    }
    require(p == to, "message does not end on a field boundary")
  }

  private def varintAt(b: Array[Byte], s: Int, e: Int): Long =
    readVarint(b, s, e)._1

  private def strAt(b: Array[Byte], s: Int, e: Int): String =
    new String(b, s, e - s, "UTF-8")

  private def parseModel(b: Array[Byte]): ModelInfo = {
    var ir = 0L
    val opsets = Seq.newBuilder[(String, Long)]
    var graphName = ""
    val inputs = Seq.newBuilder[TensorInfo]
    val outputs = Seq.newBuilder[TensorInfo]
    val opTypes = Seq.newBuilder[String]
    val inits = Seq.newBuilder[String]
    var sawGraph = false

    walkFields(b, 0, b.length) { (field, wire, s, e) =>
      (field, wire) match {
        case (1, 0) => ir = varintAt(b, s, e) // ir_version
        case (7, 2) => // graph: GraphProto (onnx.proto3: ModelProto.graph = 7)
          sawGraph = true
          walkFields(b, s, e) { (gf, gw, gs, ge) =>
            (gf, gw) match {
              case (1, 2) => // node: NodeProto (op_type = field 4)
                walkFields(b, gs, ge) { (nf, nw, ns, ne) =>
                  if (nf == 4 && nw == 2) opTypes += strAt(b, ns, ne)
                }
              case (2, 2) => graphName = strAt(b, gs, ge)
              case (5, 2) => // initializer: TensorProto (name = field 8)
                walkFields(b, gs, ge) { (tf, tw, ts, te) =>
                  if (tf == 8 && tw == 2) inits += strAt(b, ts, te)
                }
              case (11, 2) => inputs += parseValueInfo(b, gs, ge)
              case (12, 2) => outputs += parseValueInfo(b, gs, ge)
              case _ => ()
            }
          }
        case (8, 2) => // opset_import: OperatorSetIdProto (field 8; 14 is metadata_props, skipped)
          var dom = ""; var ver = 0L
          walkFields(b, s, e) { (of, ow, os, oe) =>
            if (of == 1 && ow == 2) dom = strAt(b, os, oe)
            else if (of == 2 && ow == 0) ver = varintAt(b, os, oe)
          }
          opsets += (dom -> ver)
        case _ => ()
      }
    }
    require(sawGraph, "protobuf parsed but carries no GraphProto " +
      "(field 7) — not an ONNX ModelProto")
    ModelInfo(ir, opsets.result(), graphName, inputs.result(),
      outputs.result(), opTypes.result(), inits.result())
  }

  /** ValueInfoProto { name=1, type=2: TypeProto { tensor_type=1 {
    * elem_type=1, shape=2: TensorShapeProto { dim=1: Dimension {
    * dim_value=1 | dim_param=2 } } } } }.
    */
  private def parseValueInfo(b: Array[Byte], from: Int, to: Int): TensorInfo = {
    var name = ""; var elem = 0
    val dims = Seq.newBuilder[Long]
    val params = Map.newBuilder[Int, String]
    var dimIdx = 0
    walkFields(b, from, to) { (f, w, s, e) =>
      (f, w) match {
        case (1, 2) => name = strAt(b, s, e)
        case (2, 2) => // TypeProto
          walkFields(b, s, e) { (tf, tw, ts, te) =>
            if (tf == 1 && tw == 2) // tensor_type
              walkFields(b, ts, te) { (yf, yw, ys, ye) =>
                if (yf == 1 && yw == 0) elem = varintAt(b, ys, ye).toInt
                else if (yf == 2 && yw == 2) // shape
                  walkFields(b, ys, ye) { (sf, sw, ss, se) =>
                    if (sf == 1 && sw == 2) { // one Dimension
                      var dv = -1L
                      walkFields(b, ss, se) { (df, dw, ds, de) =>
                        if (df == 1 && dw == 0) dv = varintAt(b, ds, de)
                        else if (df == 2 && dw == 2)
                          params += (dimIdx -> strAt(b, ds, de))
                      }
                      dims += dv
                      dimIdx += 1
                    }
                  }
              }
          }
        case _ => ()
      }
    }
    TensorInfo(name, elem, dims.result(), params.result())
  }
}
