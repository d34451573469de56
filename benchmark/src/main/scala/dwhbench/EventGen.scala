package dwhbench

import graft.operators.MarketplaceModel.{AttrKey, MarketplaceEvent, MsgType}

/** Seeded generator of valid marketplace message lifecycles over
  * `nTokens` NFTs with Zipf-skewed popularity. It tracks each token's
  * state (unminted / owned / on market / on auction, open offers, live
  * bids) so every message is one the chain would accept: no bid on a
  * token that is not on auction, no accepted offer that was never made,
  * no burn while offers are open. About 1% of messages are fungible-token
  * messages, which carry no token id. */
final class EventGen(seed: Long, nTokens: Int, zipfS: Double = 1.1) {
  private val rng = new java.util.Random(seed)
  // popularity rank -> token number, so hot tokens are spread over ids
  private val byRank: Array[Int] = {
    val a = Array.range(0, nTokens)
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val cum: Array[Double] = {
    val w = Array.tabulate(nTokens)(i => 1.0 / math.pow(i + 1, zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val Unminted = -1
  private val Owned = 0
  private val OnMarket = 1
  private val OnAuction = 2
  private val status = Array.fill(nTokens)(Unminted)
  private val owner = Array.fill(nTokens)("")
  private val offers = Array.fill(nTokens)(List.empty[(String, String)])
  private val bidders = Array.fill(nTokens)(List.empty[String])
  private var seq = 0L
  private var nextOffer = 0L
  private val t0 = 1700000000000L

  private def user(): String = "user" + rng.nextInt(5000)
  private def coin(): String = s"${1 + rng.nextInt(10000)}token"
  private def pick(): Int = {
    val i = java.util.Arrays.binarySearch(cum, rng.nextDouble())
    byRank(math.min(nTokens - 1, if (i >= 0) i else -i - 1))
  }

  def batch(n: Int): Vector[MarketplaceEvent] = Vector.fill(n)(next())

  def next(): MarketplaceEvent = {
    seq += 1
    if (rng.nextInt(100) == 0) return fungible()
    val t = pick()
    val e = MarketplaceEvent(seq, "").copy(tokenId = s"T$t", denom = "nft")
    status(t) match {
      case Unminted =>
        val o = user()
        status(t) = Owned; owner(t) = o
        e.copy(msgType = MsgType.MintNFT, sender = "minter", recipient = o,
          tokenUri = s"ipfs://T$t/0")
      case Owned =>
        val burnable = offers(t).isEmpty
        rng.nextInt(if (burnable) 100 else 97) match {
          case r if r < 20 =>
            val o = user(); val from = owner(t); owner(t) = o
            e.copy(msgType = MsgType.TransferNFT, sender = from,
              recipient = o)
          case r if r < 30 =>
            e.copy(msgType = MsgType.EditNFTMetadata, sender = owner(t),
              tokenUri = s"ipfs://T$t/$seq")
          case r if r < 55 =>
            status(t) = OnMarket
            e.copy(msgType = MsgType.PutNFTOnMarket, sender = owner(t),
              price = coin(), beneficiary = user())
          case r if r < 70 =>
            status(t) = OnAuction
            e.copy(msgType = MsgType.PutNFTOnAuction, sender = owner(t),
              buyoutPrice = coin(), openingPrice = coin(),
              beneficiary = user(),
              timeToSell = Some(new java.sql.Timestamp(t0 + seq * 1000)))
          case r if r < 85 || (r < 97 && offers(t).isEmpty) =>
            makeOffer(t, e)
          case r if r < 92 =>
            val (id, buyer) = offers(t).head
            val from = owner(t)
            offers(t) = offers(t).tail; owner(t) = buyer
            e.copy(msgType = MsgType.AcceptOffer, sender = from,
              attrs = Map(AttrKey.OfferId -> id))
          case r if r < 97 =>
            val (id, buyer) = offers(t).head
            offers(t) = offers(t).tail
            e.copy(msgType = MsgType.RemoveOffer, sender = buyer,
              attrs = Map(AttrKey.OfferId -> id))
          case _ =>
            val from = owner(t)
            status(t) = Unminted; owner(t) = ""
            e.copy(msgType = MsgType.BurnNFT, sender = from)
        }
      case OnMarket =>
        rng.nextInt(100) match {
          case r if r < 40 =>
            val b = user(); owner(t) = b; status(t) = Owned
            e.copy(msgType = MsgType.BuyNFT, sender = b, recipient = b)
          case r if r < 60 =>
            status(t) = Owned
            e.copy(msgType = MsgType.RemoveNFTFromMarket, sender = owner(t))
          case r if r < 85 => makeOffer(t, e)
          case _ =>
            e.copy(msgType = MsgType.EditNFTMetadata, sender = owner(t),
              tokenUri = s"ipfs://T$t/$seq")
        }
      case OnAuction =>
        rng.nextInt(100) match {
          case r if r < 55 =>
            val b = user(); bidders(t) = b :: bidders(t)
            e.copy(msgType = MsgType.MakeBidOnAuction, sender = b,
              price = coin(), buyerBeneficiary = user(),
              beneficiaryCommission = "0.01")
          case r if r < 62 =>
            val b = user(); endAuction(t, b)
            e.copy(msgType = MsgType.MakeBidOnAuction, sender = b,
              price = coin(), attrs = Map(AttrKey.IsBuyout -> "true"))
          case r if r < 69 =>
            val b = user(); endAuction(t, b)
            e.copy(msgType = MsgType.BuyoutOnAuction, sender = b,
              recipient = b)
          case r if r < 82 =>
            val o = bidders(t).headOption.getOrElse(owner(t))
            endAuction(t, o)
            e.copy(msgType = MsgType.FinishAuction, sender = owner(t),
              attrs = Map(AttrKey.Owner -> o))
          case r if r < 90 =>
            endAuction(t, owner(t))
            e.copy(msgType = MsgType.RemoveNFTFromAuction, sender = owner(t))
          case _ => makeOffer(t, e)
        }
    }
  }

  private def endAuction(t: Int, newOwner: String): Unit = {
    owner(t) = newOwner; status(t) = Owned; bidders(t) = Nil
  }

  private def makeOffer(t: Int, e: MarketplaceEvent): MarketplaceEvent = {
    nextOffer += 1
    val id = s"O$nextOffer"
    val b = user()
    offers(t) = offers(t) :+ (id -> b)
    e.copy(msgType = MsgType.MakeOffer, sender = b, price = coin(),
      buyerBeneficiary = user(), beneficiaryCommission = "0.02",
      attrs = Map(AttrKey.OfferId -> id))
  }

  private def fungible(): MarketplaceEvent =
    if (rng.nextBoolean())
      MarketplaceEvent(seq, MsgType.CreateFungibleToken).copy(
        sender = user(), denom = s"ft${rng.nextInt(50)}",
        amount = 1 + rng.nextInt(1000000))
    else
      MarketplaceEvent(seq, MsgType.TransferFungibleTokens).copy(
        sender = user(), recipient = user(),
        denom = s"ft${rng.nextInt(50)}", amount = 1 + rng.nextInt(1000))
}
