package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/**
 * Minimal legacy `.xls` (BIFF8 inside an OLE2/CFB compound document)
 * reader, closing the reference's xlrd-backed read path
 * (reference: src/etl_core/receivers/files/excel/excel_helper.py:15-31 —
 * `.xls` reads via engine "xlrd"; writes are .xlsx-only there too).
 * Pure JDK, like ExcelIO's xlsx path: the format is bounded at 65,536
 * rows × 256 cols, so a driver-side parse into rows is the honest shape —
 * the resulting DataFrame is distributed by ExcelIO.
 *
 * Implements the subset real-world minimal writers (xlwt, Excel 97-2003
 * "Save As") emit:
 *  - CFB: header, FAT (incl. DIFAT header entries), directory, and the
 *    mini-stream/miniFAT path for streams under the 4096-byte cutoff;
 *  - BIFF8: BOF/BOUNDSHEET/EOF chain, SST with CONTINUE-spanning
 *    XLUnicodeRichExtendedString entries, and cell records LABELSST,
 *    LABEL, NUMBER, RK, MULRK, BOOLERR, BLANK/MULBLANK.
 *
 * Numbers render like Excel "General": integral doubles print without the
 * trailing `.0`, matching the all-string contract of ExcelIO.read.
 */
object XlsIO {

  private val ENDOFCHAIN = 0xFFFFFFFE
  private val FREESECT   = 0xFFFFFFFF

  // ------------------------------------------------------------------ CFB

  private final class Cfb(bytes: Array[Byte]) {
    private val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getLong(0) == 0xE11AB1A1E011CFD0L, "not an OLE2 compound document")
    private val sectorShift = buf.getShort(30).toInt
    private val sectorSize = 1 << sectorShift
    private val miniShift = buf.getShort(32).toInt
    private val miniSize = 1 << miniShift
    private val numFatSectors = buf.getInt(44)
    private val firstDirSector = buf.getInt(48)
    private val miniCutoff = buf.getInt(56)
    private val firstMiniFatSector = buf.getInt(60)
    private val firstDifatSector = buf.getInt(68)
    private val numDifatSectors = buf.getInt(72)

    private def sectorOffset(s: Int): Int = 512 + s * sectorSize

    /** FAT sector ids: 109 header DIFAT entries + chained DIFAT sectors. */
    private val fatSectorIds: Seq[Int] = {
      val fromHeader = (0 until 109).map(i => buf.getInt(76 + 4 * i))
      val extra = scala.collection.mutable.ArrayBuffer[Int]()
      var ds = firstDifatSector
      var remaining = numDifatSectors
      while (remaining > 0 && ds != ENDOFCHAIN && ds != FREESECT) {
        val base = sectorOffset(ds)
        val perSector = sectorSize / 4 - 1
        (0 until perSector).foreach(i => extra += buf.getInt(base + 4 * i))
        ds = buf.getInt(base + sectorSize - 4)
        remaining -= 1
      }
      (fromHeader ++ extra).filter(_ != FREESECT).take(numFatSectors)
    }

    private val fat: Array[Int] = {
      val entries = fatSectorIds.flatMap { s =>
        val base = sectorOffset(s)
        (0 until sectorSize / 4).map(i => buf.getInt(base + 4 * i))
      }
      entries.toArray
    }

    private def chain(start: Int): Seq[Int] = {
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      var s = start
      var guard = 0
      while (s != ENDOFCHAIN && s != FREESECT && guard <= fat.length) {
        out += s; s = fat(s); guard += 1
      }
      out.toSeq
    }

    private def readChain(start: Int, size: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      chain(start).foreach { s =>
        out.write(bytes, sectorOffset(s), sectorSize)
      }
      out.toByteArray.take(size.toInt)
    }

    /** Directory entries: (name, type, startSector, size). */
    private val dirEntries: Seq[(String, Int, Int, Long)] = {
      val raw = {
        val out = new java.io.ByteArrayOutputStream()
        chain(firstDirSector).foreach(s => out.write(bytes, sectorOffset(s), sectorSize))
        out.toByteArray
      }
      (0 until raw.length / 128).map { i =>
        val b = ByteBuffer.wrap(raw, i * 128, 128).order(ByteOrder.LITTLE_ENDIAN)
        val nameLen = b.getShort(i * 128 + 64).toInt
        val name =
          if (nameLen >= 2) new String(raw, i * 128, nameLen - 2, "UTF-16LE") else ""
        val tpe = raw(i * 128 + 66).toInt
        val start = b.getInt(i * 128 + 116)
        val size = b.getLong(i * 128 + 120) & 0xFFFFFFFFL // v3: 32-bit sizes
        (name, tpe, start, size)
      }
    }

    private lazy val miniFat: Array[Int] =
      if (firstMiniFatSector == ENDOFCHAIN || firstMiniFatSector == FREESECT) Array.empty
      else {
        val raw = {
          val out = new java.io.ByteArrayOutputStream()
          chain(firstMiniFatSector).foreach(s => out.write(bytes, sectorOffset(s), sectorSize))
          out.toByteArray
        }
        val b = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        Array.tabulate(raw.length / 4)(i => b.getInt(i * 4))
      }

    private lazy val miniStream: Array[Byte] = {
      val root = dirEntries.find(_._2 == 5).getOrElse(
        throw new IllegalArgumentException("CFB: no root entry"))
      if (root._3 == ENDOFCHAIN || root._3 == FREESECT) Array.empty
      else readChain(root._3, root._4)
    }

    def stream(name: String): Option[Array[Byte]] =
      dirEntries.find(e => e._2 == 2 && e._1 == name).map { case (_, _, start, size) =>
        if (size >= miniCutoff) readChain(start, size)
        else { // ministream path: 64-byte sectors inside the root stream
          val out = new java.io.ByteArrayOutputStream()
          var s = start
          var guard = 0
          while (s != ENDOFCHAIN && s != FREESECT && guard <= miniFat.length) {
            out.write(miniStream, s * miniSize, miniSize)
            s = miniFat(s); guard += 1
          }
          out.toByteArray.take(size.toInt)
        }
      }
  }

  // ----------------------------------------------------------------- BIFF8

  private def records(stream: Array[Byte], from: Int): Iterator[(Int, Array[Byte], Int)] =
    new Iterator[(Int, Array[Byte], Int)] {
      private var pos = from
      def hasNext: Boolean = pos + 4 <= stream.length
      def next(): (Int, Array[Byte], Int) = {
        val b = ByteBuffer.wrap(stream, pos, 4).order(ByteOrder.LITTLE_ENDIAN)
        val id = b.getShort(pos) & 0xFFFF
        val len = b.getShort(pos + 2) & 0xFFFF
        val data = java.util.Arrays.copyOfRange(stream, pos + 4, pos + 4 + len)
        val at = pos
        pos += 4 + len
        (id, data, at)
      }
    }

  /** Excel "General"-style rendering: integral doubles lose the `.0`. */
  private def renderNumber(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15 && !d.isInfinite) d.toLong.toString
    else d.toString

  private def decodeRk(rk: Int): String = {
    val div100 = (rk & 1) != 0
    val isInt = (rk & 2) != 0
    val v: Double =
      if (isInt) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    renderNumber(if (div100) v / 100 else v)
  }

  /** SST parse with CONTINUE handling: strings may split across record
    * boundaries, each continuation restarting with its own grbit byte. */
  private def parseSst(parts: Seq[Array[Byte]]): IndexedSeq[String] = {
    var pi = 0
    var off = 8 // skip cstTotal, cstUnique of the first part
    def remaining: Int = parts(pi).length - off
    def ensure(): Unit = while (remaining == 0 && pi + 1 < parts.length) { pi += 1; off = 0 }
    def u8(): Int = { ensure(); val v = parts(pi)(off) & 0xFF; off += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    val count = {
      val b = ByteBuffer.wrap(parts.head, 0, 8).order(ByteOrder.LITTLE_ENDIAN)
      b.getInt(4)
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < count) {
      val cch = u16()
      var grbit = u8()
      val fRich = (grbit & 0x08) != 0
      val fExt = (grbit & 0x04) != 0
      val cRun = if (fRich) u16() else 0
      val cbExt = if (fExt) u32() else 0L
      val sb = new java.lang.StringBuilder(cch)
      var read = 0
      while (read < cch) {
        if (remaining == 0) { // continuation: fresh grbit for the remainder
          ensure()
          grbit = u8()
        }
        val wide = (grbit & 0x01) != 0
        val bytesPerChar = if (wide) 2 else 1
        val charsNow = math.min(cch - read, remaining / bytesPerChar)
        if (charsNow == 0) { ensure(); grbit = u8() } // defensive
        else {
          val raw = java.util.Arrays.copyOfRange(parts(pi), off, off + charsNow * bytesPerChar)
          off += charsNow * bytesPerChar
          sb.append(new String(raw, if (wide) "UTF-16LE" else "ISO-8859-1"))
          read += charsNow
        }
      }
      // skip formatting runs / extended data (4 bytes per run + cbExt)
      var skip = cRun * 4 + cbExt
      while (skip > 0) {
        ensure()
        val now = math.min(skip, remaining.toLong).toInt
        off += now; skip -= now
      }
      out += sb.toString
      i += 1
    }
    out.toIndexedSeq
  }

  /** BIFF8 inline (LABEL) string: cch:2, grbit:1, chars. */
  private def parseInlineString(data: Array[Byte], at: Int): String = {
    val b = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val cch = b.getShort(at) & 0xFFFF
    val grbit = data(at + 2) & 0xFF
    val wide = (grbit & 1) != 0
    new String(data, at + 3, cch * (if (wide) 2 else 1),
      if (wide) "UTF-16LE" else "ISO-8859-1")
  }

  /** Parse a `.xls` file into (sheetNames, sheetName → cells(row, col,
    * value)). Every value renders as a string (all-string contract). */
  def parse(path: String): (Seq[String], Map[String, Seq[(Int, Int, String)]]) = {
    val cfb = new Cfb(Files.readAllBytes(Paths.get(path)))
    val wb = cfb.stream("Workbook").orElse(cfb.stream("Book")).getOrElse(
      throw new IllegalArgumentException(s"$path: no Workbook stream (not a .xls?)"))

    // pass 1: globals — BOUNDSHEETs and SST (with CONTINUEs)
    val sheets = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    var sstParts = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var inSst = false
    val it = records(wb, 0)
    var depth = 0
    var done = false
    while (it.hasNext && !done) {
      val (id, data, _) = it.next()
      id match {
        case 0x0809 => depth += 1
        case 0x000A => depth -= 1; if (depth == 0) done = true // end of globals
        case 0x0085 => // BOUNDSHEET
          val b = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
          val pos = b.getInt(0)
          val cch = data(6) & 0xFF
          val wide = (data(7) & 1) != 0
          val name = new String(data, 8, cch * (if (wide) 2 else 1),
            if (wide) "UTF-16LE" else "ISO-8859-1")
          sheets += name -> pos
          inSst = false
        case 0x00FC => sstParts = scala.collection.mutable.ArrayBuffer(data); inSst = true
        case 0x003C if inSst => sstParts += data
        case _ => inSst = false
      }
    }
    val sst = if (sstParts.nonEmpty) parseSst(sstParts.toSeq) else IndexedSeq.empty

    // pass 2: each sheet substream from its BOUNDSHEET offset
    val bySheet = sheets.map { case (name, pos) =>
      val cells = scala.collection.mutable.ArrayBuffer[(Int, Int, String)]()
      val rit = records(wb, pos)
      var d = 0
      var stop = false
      while (rit.hasNext && !stop) {
        val (id, data, _) = rit.next()
        lazy val b = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
        id match {
          case 0x0809 => d += 1
          case 0x000A => d -= 1; if (d == 0) stop = true
          case 0x00FD => // LABELSST
            cells += ((b.getShort(0) & 0xFFFF, b.getShort(2) & 0xFFFF,
              sst(b.getInt(6))))
          case 0x0204 => // LABEL (inline)
            cells += ((b.getShort(0) & 0xFFFF, b.getShort(2) & 0xFFFF,
              parseInlineString(data, 6)))
          case 0x0203 => // NUMBER
            cells += ((b.getShort(0) & 0xFFFF, b.getShort(2) & 0xFFFF,
              renderNumber(b.getDouble(6))))
          case 0x027E => // RK
            cells += ((b.getShort(0) & 0xFFFF, b.getShort(2) & 0xFFFF,
              decodeRk(b.getInt(6))))
          case 0x00BD => // MULRK: row, colFirst, (ixfe+rk)*, colLast
            val row = b.getShort(0) & 0xFFFF
            val colFirst = b.getShort(2) & 0xFFFF
            val n = (data.length - 6) / 6
            (0 until n).foreach { k =>
              cells += ((row, colFirst + k, decodeRk(b.getInt(4 + 6 * k + 2))))
            }
          case 0x0205 => // BOOLERR
            val isErr = data(7) != 0
            val v = data(6) & 0xFF
            cells += ((b.getShort(0) & 0xFFFF, b.getShort(2) & 0xFFFF,
              if (isErr) s"#ERR:$v" else if (v != 0) "TRUE" else "FALSE"))
          case _ => () // BLANK/MULBLANK/ROW/DIMENSIONS etc: no value
        }
      }
      name -> cells.toSeq
    }.toMap
    (sheets.map(_._1).toSeq, bySheet)
  }
}
