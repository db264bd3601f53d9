package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MMSI validation and class decoding (SURVEY F2/C26).
  *
  * Reproduces `ais-proxy/server.js:46-94`: the prefix-class decode (AtoN
  * `99…`, SAR `111…`, coast `00…`, group `0…`, standard 7-9 digits) and the
  * Maritime-Identification-Digit membership test against the public
  * ITU-R M.585 allocation table.
  *
  * Column forms are pure `when`-ladders over substring/length — whole-stage
  * codegen, no UDF. NOTE: like the reference, the string form of the MMSI is
  * used un-padded (`String(mmsi)`), so a numeric 8-digit id never hits the
  * `0…`-prefix branches.
  */
object Mmsi {
  /** ITU-R M.585 assigned MIDs (public allocation table). */
  val ValidMids: Set[Int] = Set(
    // Europe (201-279)
    201, 202, 203, 204, 205, 206, 207, 208, 209, 210, 211, 212, 213, 214, 215,
    216, 218, 219, 220, 224, 225, 226, 227, 228, 229, 230, 231, 232, 233, 234,
    235, 236, 237, 238, 239, 240, 241, 242, 243, 244, 245, 246, 247, 248, 249,
    250, 251, 252, 253, 254, 255, 256, 257, 258, 259, 260, 261, 262, 263, 264,
    265, 266, 267, 268, 269, 270, 271, 272, 273, 274, 275, 276, 277, 278, 279,
    // Americas (301-379)
    301, 303, 304, 305, 306, 307, 308, 309, 310, 311, 312, 314, 316, 319, 321,
    323, 325, 327, 328, 329, 330, 331, 332, 334, 336, 338, 339, 341, 343, 345,
    347, 348, 349, 350, 351, 352, 353, 354, 355, 356, 357, 358, 359, 361, 362,
    364, 366, 367, 368, 369, 370, 371, 372, 373, 374, 375, 376, 377, 378, 379,
    // Asia (401-478)
    401, 403, 405, 408, 410, 412, 413, 414, 416, 417, 419, 422, 423, 425, 428,
    431, 432, 434, 436, 437, 438, 440, 441, 443, 445, 447, 450, 451, 453, 455,
    456, 457, 459, 460, 461, 462, 463, 466, 467, 468, 469, 470, 471, 472, 473,
    475, 477, 478,
    // Oceania (501-578)
    501, 503, 506, 508, 510, 511, 512, 514, 515, 516, 518, 520, 521, 523, 525,
    529, 531, 533, 536, 538, 540, 542, 544, 546, 548, 550, 553, 555, 557, 559,
    561, 563, 564, 565, 566, 567, 570, 572, 574, 576, 577, 578,
    // Africa (601-679)
    601, 603, 605, 607, 608, 609, 610, 611, 612, 613, 614, 615, 616, 617, 618,
    619, 620, 621, 622, 624, 625, 626, 627, 629, 630, 631, 632, 633, 634, 635,
    636, 637, 638, 642, 644, 645, 647, 649, 650, 654, 655, 656, 657, 659, 660,
    661, 662, 663, 664, 665, 666, 667, 668, 669, 670, 671, 672, 674, 675, 676,
    677, 678, 679,
    // Pacific/misc (701-775)
    701, 710, 720, 725, 730, 735, 740, 745, 750, 755, 760, 765, 770, 775)

  sealed trait MmsiClass { def name: String }
  case object AtoN extends MmsiClass { val name = "aton" }
  case object SarAircraft extends MmsiClass { val name = "sar" }
  case object CoastStation extends MmsiClass { val name = "coast" }
  case object GroupStation extends MmsiClass { val name = "group" }
  case object Vessel extends MmsiClass { val name = "vessel" }
  case object Invalid extends MmsiClass { val name = "invalid" }

  /** Pure-Scala decode: class + MID, mirroring `isValidMMSI` branch order. */
  def classify(mmsi: Long): MmsiClass = {
    val s = mmsi.toString
    val mid: Option[Int] =
      if (s.startsWith("99") && s.length == 9) Some(s.substring(2, 5).toInt)
      else if (s.startsWith("111") && s.length == 9) Some(s.substring(3, 6).toInt)
      else if (s.startsWith("00") && s.length == 9) Some(s.substring(2, 5).toInt)
      else if (s.startsWith("0") && s.length == 9) Some(s.substring(1, 4).toInt)
      else if (s.length >= 7 && s.length <= 9) Some(s.substring(0, 3).toInt)
      else None
    mid match {
      case Some(m) if ValidMids.contains(m) =>
        val str = mmsi.toString
        if (str.startsWith("99") && str.length == 9) AtoN
        else if (str.startsWith("111") && str.length == 9) SarAircraft
        else if (str.startsWith("00") && str.length == 9) CoastStation
        else if (str.startsWith("0") && str.length == 9) GroupStation
        else Vessel
      case _ => Invalid
    }
  }

  /** MID as a Column (when-ladder over the string form; null = unparseable). */
  def midColumn(mmsi: Column): Column = {
    val s = mmsi.cast("string")
    val len = length(s)
    when(s.startsWith("99") && len === 9, substring(s, 3, 3).cast("int"))
      .when(s.startsWith("111") && len === 9, substring(s, 4, 3).cast("int"))
      .when(s.startsWith("00") && len === 9, substring(s, 3, 3).cast("int"))
      .when(s.startsWith("0") && len === 9, substring(s, 2, 3).cast("int"))
      .when(len.between(7, 9), substring(s, 1, 3).cast("int"))
      .otherwise(lit(null).cast("int"))
  }

  /** Validity predicate as a Column (MID ∈ ITU set, literal in-list — at 300
    * entries Catalyst compiles this to a fast set lookup). Null MID
    * (unparseable length) is explicitly false — `isin` alone would yield
    * NULL and silently fall through enclosing `when` ladders.
    */
  def isValidColumn(mmsi: Column): Column = {
    val midsSorted = ValidMids.toSeq.sorted
    coalesce(midColumn(mmsi).isin(midsSorted.map(Integer.valueOf): _*), lit(false))
  }

  /** Class decode as a Column: ordered prefix ladder, invalid when MID fails. */
  def classColumn(mmsi: Column): Column = {
    val s = mmsi.cast("string")
    val len = length(s)
    when(!isValidColumn(mmsi), lit(Invalid.name))
      .when(s.startsWith("99") && len === 9, lit(AtoN.name))
      .when(s.startsWith("111") && len === 9, lit(SarAircraft.name))
      .when(s.startsWith("00") && len === 9, lit(CoastStation.name))
      .when(s.startsWith("0") && len === 9, lit(GroupStation.name))
      .otherwise(lit(Vessel.name))
  }

  /** The same decode emitted as portable SQL (Spark SQL + DuckDB). */
  def classSql(mmsi: String): String = {
    val mids = ValidMids.toSeq.sorted.mkString(",")
    val s = s"CAST($mmsi AS VARCHAR)"
    val mid =
      s"""(CASE
        WHEN substr($s,1,2) = '99' AND length($s) = 9 THEN CAST(substr($s,3,3) AS INT)
        WHEN substr($s,1,3) = '111' AND length($s) = 9 THEN CAST(substr($s,4,3) AS INT)
        WHEN substr($s,1,2) = '00' AND length($s) = 9 THEN CAST(substr($s,3,3) AS INT)
        WHEN substr($s,1,1) = '0' AND length($s) = 9 THEN CAST(substr($s,2,3) AS INT)
        WHEN length($s) BETWEEN 7 AND 9 THEN CAST(substr($s,1,3) AS INT)
        ELSE NULL END)"""
    s"""(CASE
      WHEN $mid IS NULL OR $mid NOT IN ($mids) THEN 'invalid'
      WHEN substr($s,1,2) = '99' AND length($s) = 9 THEN 'aton'
      WHEN substr($s,1,3) = '111' AND length($s) = 9 THEN 'sar'
      WHEN substr($s,1,2) = '00' AND length($s) = 9 THEN 'coast'
      WHEN substr($s,1,1) = '0' AND length($s) = 9 THEN 'group'
      ELSE 'vessel' END)"""
  }
}
